package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Deduplication operators (SURVEY §2 c1-c4).
  *
  * Exact dedup is a hash-shuffle groupBy on content; at 100 TB the group key
  * is `(md5(text), length)` so the shuffle carries 40-byte keys instead of
  * document bodies, and only colliding groups compare full text.
  *
  * Near-dup detection uses banded LSH (MinHash and SimHash): candidates
  * meet on band buckets (one group-by on the MinHash bucket, an equi-join
  * on SimHash segments) — an O(n·bands) shuffle instead of an O(n²)
  * cross join — and only bucket-collided pairs pay for exact
  * verification. All hashing is md5-based where a DuckDB oracle must
  * reproduce it; xxhash64 (codegen'd, 10× faster) where it need not.
  */
object Dedup {

  /** c1: exact dedup — canonical (minimum) doc_id per distinct text, with
    * the duplicate count. */
  def c1DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_key"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies", "content_key")
      .orderBy("doc_id")

  /** Distinct word n-shingles of lowercased text (empty array below n
    * tokens). Pure array expressions — no explode until the caller needs
    * one, so shingling stays inside whole-stage codegen. */
  private[graft] def shingles(text: Column, n: Int): Column = {
    val toks = split(lower(text), " ")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Default gate tokenizer — the engine-exact ASCII split every oracled
    * row uses (SURVEY §2 tokenizer note). */
  private[graft] val asciiTokens: Column => Column =
    t => split(lower(t), " ")

  /** The shared positional-shingle core: every n-shingle of lowercased
    * text as (doc_id, i, shingle) rows, i the 0-based start token index.
    * The hot-path shape: explode an index sequence and build each
    * shingle with element_at, which stays fully codegen'd (the
    * array-of-shingles formulation above routes through interpreted
    * higher-order functions: measured 10× slower). Row shape also keeps
    * shuffles narrow at scale — no fat array columns move. ONE copy of
    * the scaffold: shingleRows (c2/c4/c37's distinct sets) and
    * positionalShingles (c62/c63/d26's positions) both project it. */
  private def shingleCore(docs: DataFrame, n: Int,
                          tokens: Column => Column = asciiTokens): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val toks = tokens(col("text"))
    val parts = (0 until n).flatMap(j =>
      Seq(element_at(col("t"), col("i") + (j + 1)), lit(" "))).dropRight(1)
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - n)).as("i"))
      .select(col("doc_id"), col("i").cast("bigint").as("i"),
        concat(parts: _*).as("shingle"))
  }

  /** Distinct word n-shingles as rows (doc_id, shingle) — see
    * [[shingleCore]]. */
  private[graft] def shingleRows(docs: DataFrame, n: Int = 3): DataFrame =
    shingleCore(docs, n).select("doc_id", "shingle").distinct()

  /** Exact Jaccard from integer set sizes: |A∩B| / (|A| + |B| - |A∩B|),
    * 6-dp render by EXACT integer half-away division (r19, the ratio6On
    * rule at Column level): m6 = floor((2·10⁶·ni + den)/(2·den))
    * computed with pmod in pure long arithmetic — the final `/` divides
    * an exact multiple, so the quotient double is exact. Exact to
    * ~4×10⁹ shingles per doc (the multiple must stay under 2⁵³); beyond
    * that the doc itself is pathological. Oracles render the same `//`.
    * (The spec suite caught the first cut of this form doubling the
    * numerator IN BOTH ENGINES — the oracle can't see a seam the two
    * sides share, the invariant jaccard ≤ 1 can.) */
  private[graft] def jaccardCol(ni: Column, na: Column, nb: Column): Column = {
    val den = na + nb - ni
    val n2 = lit(2000000L) * ni + den
    val d2 = lit(2L) * den
    (((n2 - pmod(n2, d2)) / d2).cast("double") / 1e6)
  }

  /** Per-JVM memoized shingle table: [[shingleRows]] materialized once per
    * data dir to scratch parquet and read back. Every shingle-set query
    * on a dir (c2, c4, c37, ...) reads it — without this seam the
    * scan+split+explode+distinct subtree executes once per query. At
    * 100 TB this is exactly "persist the shingle table", here in its
    * single-node form; pipelines that manage their own shingle store pass
    * it to [[c2DedupMinhash]] directly. */
  private[graft] def shingleTablePath(spark: SparkSession, dir: String,
                                      n: Int = 3): String =
    graft.Memo.table("shingles", Seq(dir), n) { p =>
      // memo parts at n/4 (r20, guide §6 file sizing): the fanned build
      // parallelizes the shingling, but the consumers of THIS table are
      // join/aggregation-bound — each scan task carries ~70 ms of fixed
      // reader overhead (measured), so 32 tiny files taxed every one of
      // c2/c24/c27/c37/c83's scans ~2.2 task-cpu-s; n/4 keeps consumer
      // parallelism at a quarter of the session width for a quarter of
      // the tax. coalesce() is narrow — no extra shuffle at any scale.
      shingleRows(Tables.documentsFanned(spark, dir), n)
        .coalesce(math.max(8,
          spark.sessionState.conf.numShufflePartitions / 4))
        .write.parquet(p)
    }

  /** LSH banding planner — the (bands, rows) split of k minhashes that
    * minimizes expected candidate error at a target Jaccard threshold.
    * A pair with similarity s collides in ≥1 band with probability
    * p(s) = 1 − (1 − s^r)^b (the S-curve); the planner integrates the
    * false-positive mass ∫₀^t p(s) ds and false-negative mass
    * ∫ₜ¹ (1 − p(s)) ds numerically (midpoint, 1000 cells — deterministic)
    * and picks the divisor pair minimizing fpWeight·FP + (1−fpWeight)·FN,
    * ties to more bands (recall-favoring). Pure driver-side arithmetic —
    * run once when configuring a dedup job; c2's 4×2 default IS this
    * planner's choice at its own 0.5 threshold (spec-pinned), since the
    * S-curve midpoint (1/b)^(1/r) = (1/4)^(1/2) = 0.5. */
  def lshPlan(threshold: Double, nPerm: Int,
              fpWeight: Double = 0.5): (Int, Int, Double, Double) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(nPerm >= 1, s"nPerm must be >= 1, got $nPerm")
    require(fpWeight >= 0.0 && fpWeight <= 1.0,
      s"fpWeight must be in [0, 1], got $fpWeight")
    val cells = 1000
    def masses(b: Int, r: Int): (Double, Double) = {
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < cells) {
        val s = (i + 0.5) / cells
        val w = 1.0 / cells
        if (s < threshold) fp += p(s) * w else fn += (1.0 - p(s)) * w
        i += 1
      }
      (fp, fn)
    }
    val candidates = (1 to nPerm).filter(nPerm % _ == 0).map { b =>
      val r = nPerm / b
      val (fp, fn) = masses(b, r)
      (b, r, fp, fn)
    }
    candidates.minBy { case (b, _, fp, fn) =>
      (fpWeight * fp + (1.0 - fpWeight) * fn, -b)
    }
  }

  /** The MinHash signature, defined once for batch and stream: minhash i
    * of a shingle set is the least `shingleHash(i, s)` over its shingles
    * (md5, so the DuckDB oracle reproduces every bucket), and
    * [[bandKeyArray]] keys its bands. The batch side takes the least in a
    * row aggregate ([[minhashAgg]]) because batch shingles arrive as
    * rows; the stream side takes it row-locally, because a stream row
    * carries its whole document. */
  private[graft] def shingleHash(i: Int, shingle: Column): Column =
    md5(concat(lit(s"$i:"), shingle))

  /** The `bands` LSH band keys over minhash columns mh0..mh(k-1): band j
    * is the md5 of its k/bands consecutive minhashes joined by '|'. */
  private[graft] def bandKeyArray(k: Int, bands: Int): Column = {
    val rowsPerBand = k / bands
    array((0 until bands).map { j =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${j * rowsPerBand + r}"))
      md5(concat_ws("|", cols: _*))
    }: _*)
  }

  /** k minhashes + the shingle-set size in ONE codegen'd hash-aggregate
    * over (doc_id, shingle) rows (a separate sizes pass would recompute
    * the shingle subtree). Shared by c2, c37, c95 and d11's static side. */
  private[graft] def minhashAgg(sh: DataFrame, k: Int): DataFrame = {
    val cols = (0 until k).map(i =>
      min(shingleHash(i, col("shingle"))).as(s"mh$i")) :+
      count(lit(1)).as("ns")
    sh.groupBy("doc_id").agg(cols.head, cols.tail: _*)
  }

  /** LSH band keys (doc_id, ns, band, key) from a [[minhashAgg]] frame,
    * every row carrying its doc's shingle-set size `ns`. */
  private[graft] def bandKeysOf(mh: DataFrame, k: Int, bands: Int): DataFrame =
    mh.select(col("doc_id"), col("ns"), posexplode(bandKeyArray(k, bands)))
      .toDF("doc_id", "ns", "band", "key")

  /** Band rows of one side of an incremental run, tagged `incoming`. */
  private def sideBands(sh: DataFrame, incoming: Boolean,
                        k: Int, bands: Int): DataFrame =
    bandKeysOf(minhashAgg(sh, k), k, bands).withColumn("incoming", lit(incoming))

  /** Near-dup candidates, for every caller: ONE groupBy on the (band, key)
    * bucket over band rows (doc_id, ns, band, key and any side tag); each
    * bucket's member list is paired with itself, `keep` admits a pair
    * from its two members `a` and `b` (structs of every non-bucket
    * column), and one distinct makes (doc_a, doc_b, na, nb). Pairing the
    * bucket list (not a self-join on the bucket) gives the signatures one
    * consumer; a conjunct of `keep` that reads `a` alone is applied
    * before `b` is exploded. */
  private def candidatePairs(bandRows: DataFrame,
                             keep: (Column, Column) => Column): DataFrame = {
    val member = bandRows.columns.filterNot(Set("band", "key")).map(col)
    bandRows.groupBy("band", "key")
      .agg(collect_list(struct(member: _*)).as("m"))
      .filter(size(col("m")) > 1)
      .select(col("m"), explode(col("m")).as("a"))
      .select(col("a"), explode(col("m")).as("b"))
      .filter(keep(col("a"), col("b")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ns").as("na"), col("b.ns").as("nb"))
      .distinct()
  }

  /** Exact verify of candidates (doc_a, doc_b, na, nb) as (doc_a, doc_b,
    * jaccard): |A∩B| by two equi-joins, doc_a's shingles from `shA` and
    * doc_b's from `shB` (one frame for both in a self-dedup), then one
    * count per pair; |A| and |B| ride on the candidate rows, so no size
    * join. The sides stay apart, so a doc_id present on both keeps its
    * two sets. Bucket-collided pairs always share their min shingle, so
    * the inner joins never drop a candidate. */
  private def verifiedPairs(pairs: DataFrame, shA: DataFrame,
                            shB: DataFrame): DataFrame =
    pairs
      .join(shA.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(shB.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("ni"))
      .select(col("doc_a"), col("doc_b"),
        jaccardCol(col("ni"), col("na"), col("nb")).as("jaccard"))

  /** `body` over `df` cached for the call: a frame the caller already
    * caches is read as it is, and stays; the call's own cache is dropped
    * in `finally`, so `body` materialises (localCheckpoint) whatever it
    * hands back. */
  private def cachedForCall[T](df: DataFrame)(body: DataFrame => T): T = {
    val owned = df.storageLevel == StorageLevel.NONE
    val cached = if (owned) df.persist() else df
    try body(cached) finally if (owned) cached.unpersist()
  }

  /** `body` over one side's shingles in an incremental run: an injected
    * frame (the corpus store's at-rest artifact) is read as it is, and
    * the shingles of `docs` that the call computes itself are cached for
    * the call. */
  private def sideShingles[T](injected: Option[DataFrame], docs: DataFrame)(
      body: DataFrame => T): T =
    injected.fold(
      cachedForCall(shingleRows(docs.select(col("doc_id"), col("text"))))(body))(body)

  /** c2: MinHash + LSH near-duplicate pairs.
    *
    * k=8 md5 minhashes over word-3-shingles, banded 4×2: docs sharing any
    * band bucket become candidates, then candidates are verified with exact
    * shingle-set Jaccard. md5 (not xxhash) so the DuckDB oracle reproduces
    * buckets bit-for-bit.
    *
    * Every intermediate is computed once per call, for every caller
    * through the same code: the shingle input (the memoized table, or
    * `shingleTable` — the survivors' own shingles in `Main pipeline`, a
    * caller's shingle store at 100 TB) is cached for the call, and the
    * signature aggregate, the band rows and both verify-join sides read
    * that cache (a caller's already-cached frame is read as it is). The
    * pairs are materialised before the call returns and the call's own
    * cache is dropped in `finally`, so the returned frame pins nothing.
    * Shuffles, none O(n²):
    *  - the signature aggregate (k minhashes + `ns`, one pass) groups on
    *    doc_id — no shuffle at all when the input is already
    *    hash-partitioned on doc_id (`Main pipeline`'s is, at the session
    *    width); one partial-aggregate exchange otherwise;
    *  - candidates: [[candidatePairs]]' one groupBy on the (band, key)
    *    bucket, pairs with doc_a < doc_b;
    *  - verify: [[verifiedPairs]]' two equi-joins back onto the cached
    *    shingles (broadcast while they fit, one shuffle each beyond);
    *  - the sort is planned over the materialised pairs: a consumer that
    *    aggregates them (connected components' distinct) never runs it. */
  def c2DedupMinhash(spark: SparkSession, dir: String,
                     k: Int = 8, bands: Int = 4,
                     shingleTable: Option[DataFrame] = None): DataFrame =
    cachedForCall(shingleTable.getOrElse(
        spark.read.parquet(shingleTablePath(spark, dir)))) { sh =>
      val pairs = candidatePairs(bandKeysOf(minhashAgg(sh, k), k, bands),
        (a, b) => a("doc_id") < b("doc_id"))
      verifiedPairs(pairs, sh, sh).localCheckpoint()
    }.orderBy("doc_a", "doc_b")

  /** Incremental dedup of an incoming batch against an existing corpus —
    * the form a production pipeline actually runs: the corpus is already
    * deduplicated, and each new crawl/delivery must be checked AGAINST it
    * (never re-deduplicating the whole corpus). Each incoming doc gets a
    * status: `exact_dup` (byte-identical text exists, via an md5 equi-join
    * — the shuffle carries 32-byte keys, not bodies), `near_dup` (a banded
    * MinHash candidate in the existing corpus verifies at
    * jaccard ≥ threshold — c2's candidate step and verify, with the two
    * sides tagged and kept apart, so an incoming doc_id that also names
    * an existing doc is still compared text to text), or `new`; plus
    * `dup_of`, the smallest matching existing doc_id (null for new docs).
    * At 100 TB the existing side's shingles are a precomputed artifact of
    * the corpus store — inject them via `existingShingles` — and only the
    * (small) incoming batch is shingled per run; every join is an
    * equi-join on a hash key, so per-batch cost scales with the batch,
    * not the corpus. Each side's shingles feed its signature aggregate
    * and the verify, so a side the call shingles itself is cached for the
    * call, and the statuses are materialised before it returns.
    * Thresholding uses the ROUNDED jaccard (c2's 6-dp contract) so
    * verdicts can't flip on a last-ulp disagreement. */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
                       threshold: Double = 0.7, k: Int = 8, bands: Int = 4,
                       existingShingles: Option[DataFrame] = None,
                       incomingShingles: Option[DataFrame] = None): DataFrame = {
    val exact = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(existing.select(md5(col("text")).as("h"), col("doc_id").as("ex_id")), "h")
      .groupBy("doc_id").agg(min(col("ex_id")).as("exact_of"))
    sideShingles(incomingShingles, incoming) { shIn =>
      sideShingles(existingShingles, existing) { shEx =>
        val pairs = candidatePairs(sideBands(shIn, incoming = true, k, bands)
            .unionByName(sideBands(shEx, incoming = false, k, bands)),
          (a, b) => a("incoming") && !b("incoming"))
        val near = verifiedPairs(pairs, shIn, shEx)
          .filter(col("jaccard") >= threshold)
          .groupBy(col("doc_a").as("doc_id")).agg(min(col("doc_b")).as("near_of"))
        incoming.select(col("doc_id"))
          .join(exact, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("exact_of").isNotNull, "exact_dup")
              .when(col("near_of").isNotNull, "near_dup")
              .otherwise("new").as("status"),
            coalesce(col("exact_of"), col("near_of")).as("dup_of"))
          .localCheckpoint()
      }
    }.orderBy("doc_id")
  }

  /** c37's deterministic batch split of the documents table, which c95
    * maintains clusters over too: (existing, incoming, existing-side
    * shingles). The existing corpus is doc_id % 7 != 3; the incoming
    * batch is the % 7 == 3 slice (genuinely new docs plus their
    * near-dups) UNION a "recrawl" slice — existing docs with
    * doc_id % 11 == 5 re-keyed as doc_id + 10^12, byte-identical replays
    * of corpus content (the way recrawls actually arrive) — so all three
    * statuses are exercised non-trivially and the oracle reproduces the
    * exact batch. The existing side's shingles come from the memoized
    * corpus shingle table (the precomputed-artifact path the generic
    * entry points are built for), so only the incoming batch is shingled
    * per run. */
  private def c37Split(spark: SparkSession,
                       dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val existing = docs.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), col("text"))
    // recrawl ids sit 1e12 above the corpus id space so a rekeyed replay
    // can never collide with a genuine incoming doc_id (corpus ids are
    // row counts — far below 1e12 at any real scale factor)
    val incoming = docs.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 11 === 5 && col("doc_id") % 7 =!= 3)
        .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
    val shEx = spark.read.parquet(shingleTablePath(spark, dir))
      .filter(col("doc_id") % 7 =!= 3)
    (existing, incoming, shEx)
  }

  /** c37: [[incrementalDedup]] over [[c37Split]]. */
  def c37IncrementalDedup(spark: SparkSession, dir: String,
                          threshold: Double = 0.7): DataFrame = {
    val (existing, incoming, shEx) = c37Split(spark, dir)
    incrementalDedup(incoming, existing, threshold, existingShingles = Some(shEx))
  }

  /** Incremental CLUSTER maintenance (r16, SURVEY §2 c95) — the gap the
    * r15 verdict ranked #2: [[incrementalDedup]] classifies each new doc
    * but the cluster label table behind c19/c30/c82/c92 was batch-only,
    * forcing a full corpus re-cluster per crawl. This unions the new
    * crawl's verified edges into the FROZEN label table and re-runs
    * connected components confined to TOUCHED components only:
    *
    *  1. candidate pairs with at least one new doc from c2's candidate
    *     step over both sides' tagged band rows (the new doc as doc_a),
    *     exact-jaccard verified at the 6-dp threshold and written as
    *     (least, greatest) edges;
    *  2. touched components = existing clusters containing any endpoint
    *     of a new edge (one equi-join against the label table);
    *  3. CC (large-star/small-star) over {new edges} ∪ {touched
    *     components' star edges} — the star set preserves those
    *     components' connectivity exactly, so the confined pass computes
    *     the SAME merged components a full re-cluster would;
    *  4. untouched components' labels pass through VERBATIM.
    *
    * Because labels are canonical (cluster_id = component minimum), the
    * result EQUALS the full re-cluster of the merged corpus row for row
    * — not merely isomorphic (equivalence spec + the c95 oracle, which
    * IS the full-recluster SQL over the merged corpus). Existing docs
    * that were singletons (absent from the label table) are handled by
    * construction: a new edge reaching one carries it into the confined
    * CC directly. Per-crawl cost scales with the batch + touched
    * components, never the corpus: the corpus-side shingles are an
    * at-rest artifact (inject via `existingShingles`), the label joins
    * are O(labels) equi-joins on bigints, and the CC input is the
    * touched-star + new-edge set. A side the call shingles itself is
    * cached for the call (each feeds its signature aggregate and the
    * verify). New
    * doc_ids must be disjoint from the corpus (a node id names one doc
    * in the label table) — checked, loud. */
  def incrementalClusters(newDocs: DataFrame, existing: DataFrame,
                          existingLabels: DataFrame, threshold: Double = 0.5,
                          k: Int = 8, bands: Int = 4,
                          existingShingles: Option[DataFrame] = None,
                          newShingles: Option[DataFrame] = None): DataFrame = {
    val clash = newDocs.select("doc_id")
      .join(existing.select("doc_id"), "doc_id").limit(1).count()
    require(clash == 0L,
      "incrementalClusters: new doc_ids overlap the existing corpus — " +
        "re-key the crawl (recrawl replays arrive re-keyed, c37's rule)")
    sideShingles(newShingles, newDocs) { shNew =>
      sideShingles(existingShingles, existing) { shEx =>
        val pairs = candidatePairs(sideBands(shNew, incoming = true, k, bands)
            .unionByName(sideBands(shEx, incoming = false, k, bands)),
          (a, b) => a("incoming") && (!b("incoming") || a("doc_id") < b("doc_id")))
        val edges = verifiedPairs(pairs, shNew, shNew.unionByName(shEx))
          .filter(col("jaccard") >= threshold)
          .select(least(col("doc_a"), col("doc_b")).as("u"),
            greatest(col("doc_a"), col("doc_b")).as("v"))
        maintainLabels(edges, existingLabels)
      }
    }
  }

  /** The GENERIC incremental-maintenance core (r16, factored out of
    * [[incrementalClusters]] so the media cluster table can ride it at
    * hash grain): union a crawl's verified new-touching edges (u, v)
    * into a FROZEN (node, cluster_id) label table and re-run CC
    * confined to touched components — untouched labels pass through
    * verbatim, and because labels are canonical component minima the
    * result EQUALS a full re-cluster of the merged graph row for row
    * (c95's theorem; the media twin's gate row engine-checks it too).
    * The edges feed the touched-root lookup AND the CC input, so they
    * are cached for the call, and the maintained table is materialised
    * before it returns. Edge-less new nodes stay absent, exactly like
    * singletons in a from-scratch CC (consumers coalesce to own id). */
  private[graft] def maintainLabels(newEdges: DataFrame,
                                    existingLabels: DataFrame): DataFrame =
    cachedForCall(newEdges) { edges =>
      val lbl = existingLabels.select(col("node"), col("cluster_id"))
      val touchedRoots = edges
        .select(explode(array(col("u"), col("v"))).as("node"))
        .join(lbl, "node").select("cluster_id").distinct()
      val touchedStars = lbl.join(touchedRoots, "cluster_id")
        .select(col("node").as("u"), col("cluster_id").as("v"))
      val (relabels, _) =
        connectedComponentsAlternating(edges.unionAll(touchedStars))
      lbl.join(touchedRoots, Seq("cluster_id"), "left_anti")
        .select(col("node"), col("cluster_id"))
        .unionByName(relabels.select(col("node"), col("cluster_id")))
        .localCheckpoint()
    }

  /** Per-JVM memoized FROZEN label table of the c37 split's existing
    * corpus (doc_id % 7 ≠ 3): c2 pairs confined to the slice fed through
    * the alternating CC — the at-rest artifact [[c95IncrClusters]]
    * maintains, so the gate row's per-run work is exactly the
    * incremental pass (the production shape: labels are an at-rest
    * table, only the crawl is processed per run). */
  private[graft] def incrBaseLabelsPath(spark: SparkSession, dir: String,
                                        threshold: Double = 0.5): String =
    graft.Memo.table("incr-base-labels", Seq(dir), threshold) { p =>
      val (_, _, shEx) = c37Split(spark, dir)
      val pairs = c2DedupMinhash(spark, dir, shingleTable = Some(shEx))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      connectedComponentsAlternating(pairs)._1
        .select(col("node"), col("cluster_id"))
        .write.parquet(p)
    }

  /** Per-JVM memoized MAINTAINED label table (c19's one-CC-pass rule,
    * applied to the incremental pass): the add-then-maintain run
    * executes once per (dir, threshold) and the gate row reads its
    * at-rest result — the production shape, where maintenance runs once
    * per crawl and every downstream consumer reads the updated table. */
  private[graft] def incrClustersTablePath(spark: SparkSession, dir: String,
                                           threshold: Double = 0.5): String =
    graft.Memo.table("incr-clusters", Seq(dir), threshold) { p =>
      val (existing, incoming, shEx) = c37Split(spark, dir)
      val lbl = spark.read.parquet(incrBaseLabelsPath(spark, dir, threshold))
      incrementalClusters(incoming, existing, lbl, threshold,
        existingShingles = Some(shEx))
        .write.parquet(p)
    }

  /** c95 gate row (r16): [[incrementalClusters]] over [[c37Split]] —
    * existing corpus = doc_id % 7 ≠ 3 with its frozen label table;
    * incoming = the % 7 = 3 slice plus re-keyed byte-identical recrawls
    * (jaccard-1 bridges that force real cluster merges) — surfaced in
    * c19's shape over the MERGED corpus (every doc labeled, singletons
    * self-labeled). The ORACLE is the full re-cluster of the merged
    * corpus (c19's cluster CTEs over documents ∪ recrawls): the gate
    * therefore engine-checks the add-then-maintain ≡ full-re-cluster
    * equivalence itself, every round. */
  def c95IncrClusters(spark: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val inc = spark.read
      .parquet(incrClustersTablePath(spark, dir, threshold))
    val merged = docs.select(col("doc_id"))
      .unionAll(docs
        .filter(col("doc_id") % 11 === 5 && col("doc_id") % 7 =!= 3)
        .select((col("doc_id") + 1000000000000L).as("doc_id")))
    merged
      .join(inc.select(col("node").as("doc_id"), col("cluster_id").as("cc")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cc"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** 64-bit SimHash over a (doc_id, text) frame: each distinct lowercase
    * token votes ±1 on every bit of its xxhash64; the sign of each bit's
    * vote total becomes that simhash bit. Computed by the native codegen'd
    * [[graft.functions.SimHash64]] expression — one projection, no explode
    * shuffle, no wide aggregate (and the same expression serves streams,
    * where the explode+groupBy shape would be a second stateful operator). */
  private[graft] def simhashOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextFunctions.simhash64(col("text")).as("simhash"))

  /** The pre-expression explode+groupBy formulation of [[simhashOf]] —
    * kept as the independent re-derivation the parity spec checks the
    * native expression against, bit for bit. */
  private[graft] def simhashOfExploded(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val voteCols = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$b"))
    val votes = toks.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val hash = (0 until 64)
      .map(b => when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    votes.select(col("doc_id"), hash.as("simhash"))
  }

  /** c3: SimHash fingerprint + 4×8-bit band segments (hamming≤3 pairs are
    * found by equi-joining any segment: 4 segments guarantee a ≤3-bit
    * difference leaves at least one segment intact).
    *
    * This gate variant is a 32-bit simhash whose per-token bits are the
    * high bit of each md5 hex digit (`substr(md5(tok), i, 1) >= '8'` —
    * lexicographically exact for hex, so DuckDB reproduces every bit and
    * the query is fully oracled). The 64-bit xxhash64 variant in
    * [[simhashOf]]/[[simhashPairs]] is the cheaper production path. */
  def c3DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash32md5(col("text")).as("simhash"))
      .select(col("doc_id") +: col("simhash") +:
        (0 until 4).map(j =>
          shiftright(col("simhash"), j * 8).bitwiseAND(0xFFL).as(s"seg$j")): _*)
      .orderBy("doc_id")

  /** The pre-expression explode + 32-conditional-sum formulation of c3's
    * simhash — the independent re-derivation the parity spec checks
    * [[graft.functions.SimHash32Md5]] against (the DuckDB oracle is a
    * second independent check of the same bits). */
  private[graft] def simhash32Exploded(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val voteCols = (0 until 32).map(i =>
      sum(when(substring(col("h"), i + 1, 1) >= "8", 1).otherwise(-1)).as(s"v$i"))
    val votes = toks.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val hash = (0 until 32)
      .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), hash.as("simhash"))
  }

  /** The recall guard of every 4-segment banding (simhash and phash
    * pairs, the streaming phash probes): pigeonhole guarantees a pair at
    * hamming <= 3 shares an intact segment; a larger radius would miss
    * pairs silently, so it is refused. */
  private[graft] def requireFourBandRecall(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-segment banding finds all pairs only for hamming <= 3, got $maxHamming")

  /** SimHash near-dup pairs for a (doc_id, text) frame: segment-banded
    * candidates, exact hamming via bit_count(xor) — used by the spec.
    *
    * RECALL BOUND: 4 × 16-bit segments guarantee (pigeonhole) that every
    * pair at hamming ≤ 3 shares an intact segment; at `maxHamming` ≥ 4 the
    * differing bits can straddle all four segments and such pairs are
    * silently missed. Callers wanting a larger radius must raise the
    * segment count to maxHamming + 1 (same join shape), not just the
    * threshold — the CLI rejects H ≥ 4 for exactly this reason. */
  private[graft] def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    requireFourBandRecall(maxHamming)
    val seg = simhashOf(docs).select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFFL)): _*)))
      .toDF("doc_id", "simhash", "seg_idx", "seg")
    seg.select(col("seg_idx"), col("seg"), col("doc_id").as("doc_a"), col("simhash").as("ha"))
      .join(seg.select(col("seg_idx"), col("seg"), col("doc_id").as("doc_b"), col("simhash").as("hb")),
        Seq("seg_idx", "seg"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Rebase a frame's lineage on its (materialized) cached blocks: an
    * InternalRow round-trip through internalCreateDataFrame gives the
    * next iteration a constant-depth LogicalRDD base. Building iteration
    * N+1's plan on iteration N's nests the logical plan linearly — by
    * ~iteration 15 the tree is deep enough that Spark's own plan
    * stringification overflows the stack. */
  private def rebase(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .internalCreateDataFrame(df.sparkSession, df.queryExecution.toRdd, df.schema)

  private val ccScratchSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Materialize (node, cluster_id) labels to scratch parquet and read
    * them back: a LogicalRelation with zero lineage into the iteration
    * caches, so the caller holds no reference that pins them. Narrow
    * two-bigint rows — the standard checkpoint for iterative algorithms
    * (at 100 TB this is n×16 bytes, dwarfed by the edge shuffles).
    * Each call gets a fresh dir (the returned frame READS it lazily, so
    * an earlier call's dir can never be reclaimed while its result may
    * still be consumed); dirs are tiny and all removed at JVM exit by
    * the single scratch cleanup hook. */
  private def checkpointLabels(labels: DataFrame): DataFrame = {
    val dir = new java.io.File(
      graft.GraftSession.scratchDir(s"cc-${ccScratchSeq.incrementAndGet()}"),
      "labels").toString
    labels.write.mode("overwrite").parquet(dir)
    labels.sparkSession.read.parquet(dir)
  }

  /** Connected components by the large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the last mile of near-dup dedup: LSH emits PAIRS, but dropping
    * duplicates needs CLUSTERS (one canonical doc per component).
    * Min-label propagation needs DIAMETER iterations (a 10k-node chain of
    * near-dups would need 10k rounds); the alternation converges in
    * O(log n) rounds on any graph.
    *
    * Each round starts from the deduped hi→lo edge set and runs three
    * shuffles, all on (bigint, bigint) rows or one neighbour list per node:
    *  - LARGE-STAR: one groupBy collects every node's neighbours N(u) over
    *    the symmetrized edges, and each neighbour larger than u links to
    *    min({u} ∪ N(u)) — halves long chains;
    *  - SMALL-STAR: one groupBy collects the SET of each large-star
    *    node's (all smaller) neighbours (the set is large-star's dedup),
    *    and the node and its neighbours link to their minimum — forms
    *    stars;
    *  - one distinct makes the next round's edge set.
    * Both stars explode the collected array and filter in Column code (no
    * higher-order lambda), so the steps stay codegen'd. The convergence
    * check (equal counts + empty anti-join against the previous set) is
    * on top. The fixed point is a star per component centered at its
    * minimum node; the edge list IS then the (node, cluster_id) mapping.
    * Lineage is rebased per round and the superseded generation
    * unpersisted; exceeding `maxIter` THROWS rather than returning
    * under-merged labels (they would KEEP duplicate documents downstream).
    *
    * Input columns `u`, `v`; returns ((node, cluster_id = min node id
    * reachable), rounds) — only nodes that appear in an edge are labelled.
    * Rounds are asserted O(log n) by the adversarial chain spec. */
  private[graft] def connectedComponentsAlternating(
      edges: DataFrame, maxIter: Int = 40): (DataFrame, Int) = {
    var e = edges.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().persist()
    var eCount = e.count() // materialize: the upstream pair pipeline runs ONCE
    try {
    var iter = 0
    var converged = eCount == 0L
    while (!converged && iter < maxIter) {
      // LARGE-STAR over the symmetrized neighborhood: every neighbour w > u
      // links to m(u) = min({u} ∪ N(u)) (w > u >= m(u), so never a loop)
      val ls = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .groupBy("u").agg(collect_list("v").as("nb"))
        .select(col("u"), least(col("u"), array_min(col("nb"))).as("m"),
          explode(col("nb")).as("w"))
        .filter(col("w") > col("u"))
        .select(col("w").as("u"), col("m").as("v"))
      // SMALL-STAR on the (already hi→lo) large-star output: u and every
      // neighbour in N(u) (all smaller than u) link to min(N(u))
      val ss = ls.groupBy("u").agg(collect_set("v").as("nb"))
        .select(array_min(col("nb")).as("m"),
          explode(concat(array(col("u")), col("nb"))).as("x"))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct()
      val next = rebase(ss).persist()
      // a throw from the materializing count/anti-join would otherwise
      // leak the just-persisted generation: the finally below only covers
      // `e`, which still points at the PREVIOUS one
      try {
        val nextCount = next.count()
        // fixed point = identical edge SET (both sides deduped): equal
        // counts + empty anti-join
        converged = nextCount == eCount &&
          next.join(e, Seq("u", "v"), "left_anti").isEmpty
        eCount = nextCount
      } catch { case t: Throwable => next.unpersist(); throw t }
      e.unpersist()
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsAlternating: not converged after $maxIter rounds")
    // stars: children as u → root as v; roots appear only on the v side
    val labels = e.select(col("u").as("node"), col("v").as("cluster_id"))
      .union(e.select(col("v").as("node"), col("v").as("cluster_id")).distinct())
    (checkpointLabels(labels), iter)
    } finally e.unpersist()
  }

  /** Per-JVM memoized cluster-label table, keyed by (dir, threshold):
    * c2's verified pairs at jaccard ≥ threshold fed through
    * [[connectedComponentsAlternating]] (O(log n) rounds on any diameter;
    * labels = component minimum),
    * materialized once to scratch parquet — the cluster assignment feeds
    * c19, c30 AND dedupDocuments' minhash mode; without the seam each
    * consumer re-runs the whole minhash→pairs→iterative-CC pipeline. The
    * single-node form of "persist the cluster table", exactly like
    * [[shingleTablePath]]. */
  private[graft] def clusterTablePath(spark: SparkSession, dir: String,
                                      threshold: Double = 0.5): String =
    graft.Memo.table("clusters", Seq(dir), threshold) { p =>
      val pairs = c2DedupMinhash(spark, dir)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      connectedComponentsAlternating(pairs)._1
        .select(col("node"), col("cluster_id"))
        .write.parquet(p)
    }

  /** c19: near-duplicate CLUSTERS — c2's MinHash/LSH pairs at
    * jaccard ≥ 0.5 (threshold applied to the 6-dp-rounded value, so both
    * engines agree on membership) fed through
    * [[connectedComponentsAlternating]];
    * every document gets a cluster_id (its own id when it has no
    * near-dups) and `is_canonical` marks the one row per cluster a dedup
    * pipeline keeps. Labels come from the memoized [[clusterTablePath]]
    * (ONE CC pass serves c19, c30 and dedupDocuments' minhash mode). */
  def c19DedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val comp = spark.read.parquet(clusterTablePath(spark, dir))
      .select(col("node").as("doc_id"), col("cluster_id").as("cc"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** c92 (r15): SOFT dedup — repetition discounting instead of dropping:
    * every document keeps its row but carries weight 1/|cluster|, so a
    * near-dup cluster contributes ~one document of gradient mass while
    * its unique tails survive (the loss-weighting alternative to hard
    * dedup — what keeps boilerplate-heavy sources from dominating a
    * training mix without deleting their variants). Composes the
    * MEMOIZED cluster table (c19's rule — ONE CC pass serves
    * c19/c30/c82/c92); singletons weight exactly 1.0. The 6-dp weight
    * rounds by the exact-integer half-up rule — round6(1/n) ≡
    * ((2·10⁶ + n) div 2n)/10⁶ — so both engines agree on every tie
    * (the c80 rounding lesson). Scale shape: one doc_id equi-join +
    * one cluster_id count + one join back — O(docs) rows of two
    * bigints through each exchange, nothing corpus-quadratic. */
  def c92SoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val comp = spark.read.parquet(clusterTablePath(spark, dir))
      .select(col("node").as("doc_id"), col("cluster_id").as("cc"))
    val members = Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("cluster_id"))
    val sizes = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    members.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (expr("(2*1000000 + cluster_size) div (2*cluster_size)")
          .cast("double") / 1e6).as("weight_r"))
      .orderBy("doc_id")
  }

  /** At-rest (text-md5 → weight_r) index for d45's streaming soft-dedup
    * weights: c92's weights keyed by CONTENT hash, so a byte-identical
    * replay arriving at ingest inherits its cluster's loss weight
    * without any id coordination (recrawls arrive re-keyed — c37's
    * rule). Identical texts are jaccard-1 near-dups, so they share a
    * cluster and therefore a weight — the distinct is exact, never
    * lossy. d11/d25's materialized-table rule: corpus-sized, at scale
    * bucketed by h so the per-batch probe joins are co-located. */
  def softWeightIndexOf(spark: SparkSession, dir: String): DataFrame =
    c92SoftDedup(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        "doc_id")
      .select(md5(col("text")).as("h"), col("weight_r"))
      .distinct()

  /** The at-rest (text-md5 → cluster_id) EXACT-replay index d50 probes
    * (r17) — [[softWeightIndexOf]]'s shape with the frozen c19 LABEL
    * as the payload: a byte-identical replay inherits its corpus text
    * cluster. Identical texts always share a cluster (full shingle
    * overlap ⇒ jaccard-1 pairs in every band), so min() is a
    * determinism guard, not a choice. O(docs) rows, at scale bucketed
    * by h. */
  private[graft] def textClusterIndexOf(docs: DataFrame,
                                        labels: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("h"), col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("h"),
        least(coalesce(col("cluster_id"), col("doc_id")), col("doc_id"))
          .as("cl"))
      .groupBy("h").agg(min("cl").as("cluster_id"))

  /** c30: leakage-safe train/val/test split — c14's content-hash split
    * keyed by the near-dup CLUSTER's canonical text instead of each doc's
    * own. c14 hashes per-doc, so two near-duplicates (one word apart)
    * hash independently and can land in train AND test — the eval-set
    * leakage near-dup dedup exists to prevent. Here every doc inherits
    * the split of its c19 cluster canonical: near-dups co-travel by
    * construction, and singleton docs (their own canonical) get exactly
    * c14's split. One extra equi-join on cluster_id beyond c19; the
    * cluster pass dominates at any scale. */
  def c30ClusterSplit(spark: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame = {
    val comp = spark.read.parquet(clusterTablePath(spark, dir, threshold))
      .select(col("node").as("doc_id"), col("cluster_id").as("cc"))
    val clusters = Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("cluster_id"))
    val canon = Tables.documents(spark, dir)
      .select(col("doc_id").as("cluster_id"), md5(col("text")).as("canon_md5"))
    val bucket = substring(col("canon_md5"), 1, 2)
    clusters.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        when(bucket < "cc", "train").when(bucket < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** End-to-end document dedup: returns the SURVIVORS — one canonical doc
    * (minimum doc_id) per duplicate cluster, all columns preserved — the
    * operation a training-data pipeline actually runs. Modes:
    *  - "exact":   duplicates = identical text (md5 group, c1's shape);
    *  - "minhash": near-dups = c2's MinHash/LSH pairs at `threshold`
    *               jaccard, clustered by [[connectedComponentsAlternating]];
    *  - "simhash": near-dups = 64-bit simhash banding at `maxHamming`
    *               ([[simhashPairs]]), clustered the same way.
    * Clustering uses the large-star/small-star alternation, NOT min-label:
    * this path has no oracle behind it and a real corpus can contain
    * high-diameter near-dup chains (doc1~doc2~...~docN) that min-label
    * would need diameter iterations to merge. Every shuffle is an
    * equi-join/groupBy on keys or band buckets — nothing here is O(n²) at
    * any corpus size. */
  def dedupDocuments(spark: SparkSession, dir: String, mode: String = "minhash",
                     threshold: Double = 0.5, maxHamming: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    mode match {
      case "exact" =>
        val keep = docs.groupBy(md5(col("text")).as("k"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        docs.join(keep, Seq("doc_id"), "left_semi")
      case "minhash" =>
        // non-canonical cluster members are the drop set; labels come from
        // the memoized (dir, threshold)-keyed cluster table — shared with
        // c19/c30, so a curate run clusters exactly once
        val drop = spark.read.parquet(clusterTablePath(spark, dir, threshold))
          .filter(col("cluster_id") =!= col("node"))
          .select(col("node").as("doc_id"))
        docs.join(drop, Seq("doc_id"), "left_anti")
      case "simhash" =>
        val pairs = simhashPairs(docs.select("doc_id", "text"), maxHamming)
          .select(col("doc_a").as("u"), col("doc_b").as("v"))
        val drop = connectedComponentsAlternating(pairs)._1
          .filter(col("cluster_id") =!= col("node"))
          .select(col("node").as("doc_id"))
        docs.join(drop, Seq("doc_id"), "left_anti")
      case other =>
        throw new IllegalArgumentException(
          s"dedup mode must be exact|minhash|simhash, got '$other'")
    }
  }

  /** c82: quality-aware survivorship — WHICH member of each near-dup
    * cluster should survive: c19 keeps the min doc_id (deterministic but
    * quality-blind); production curation keeps the BEST member, because
    * near-dup clusters routinely mix a clean original with boilerplate-
    * wrapped or truncated recrawls. Composes the memoized c19/c30
    * cluster table with c41's scale-free quality score: per cluster the
    * canonical is argmax by (mean_prob_r desc, doc_id asc) — the
    * ROUNDED 6-dp score (c41's own oracle-pinned metric), so the
    * verdict can't flip on a last-ulp disagreement, and exact-dup
    * members (identical text ⇒ identical score) fall back to min
    * doc_id, c19's rule.
    *
    * Scale shape: the cluster table is memoized (one clustering per
    * dir — c19/c30/curate share it), the score join is a doc_id
    * equi-join, and the per-cluster argmax is one row_number window
    * over cluster-bounded frames (the same skew bound as any
    * per-cluster fold; a giant cluster is a threshold pathology the
    * dedup policy owns, not a plan defect). */
  def c82BestOfCluster(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = spark.read.parquet(clusterTablePath(spark, dir, threshold))
      .select(col("node").as("doc_id"), col("cluster_id").as("cc"))
    val scores = graft.operators.TextOps.c41FreqScore(spark, dir)
      .select(col("doc_id"), col("mean_prob_r"))
    val members = Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("cluster_id"))
      .join(scores, "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(desc("mean_prob_r"), asc("doc_id"))
    val canon = members.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"))
    members.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("mean_prob_r"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Ceiling on per-shingle document frequency before c83's truth side
    * may expand pairs (r15: the eval contract became a runtime refusal).
    * The shared-shingle expansion is Σ df² over shingles — one
    * boilerplate shingle with df = 10⁶ is 10¹² pairs; at the cap the
    * worst single shingle contributes ≤ 5×10⁷, an eval-sized cost. */
  private[graft] val TruthDfCap = 10000L

  /** One aggregate over the (doc_id, shingle) table BEFORE any pair
    * expansion: a corpus with a hot shingle refuses loudly instead of
    * detonating a quadratic join ("never the production path", enforced
    * at runtime — r15). */
  // r20: max per-shingle df is a property of the at-rest shingle table
  // (the embeddingDim memo rule) — the eager groupBy+max job ran on
  // every c83 execution; memoized on the table at `memoPath`, the
  // require (same value, same refusal text) still evaluates per execution
  private[graft] def requireTruthDfCap(sh: DataFrame,
                                       cap: Long = TruthDfCap,
                                       memoPath: Option[String] = None): Unit = {
    def compute(): Long = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head().getLong(0)
    val maxDf: Long = memoPath match {
      case Some(p) => graft.Memo.value("max-df", Seq(p))(compute())
      case None    => compute()
    }
    require(maxDf <= cap,
      s"c83's exact truth expands shared-shingle pairs quadratically in " +
        s"per-shingle df: max df $maxDf > cap $cap — run the " +
        "recall gate on an eval corpus/sample, never a production corpus")
  }

  /** c83: banded-MinHash recall gate for the TEXT near-dup family —
    * c72's eval-as-operator rule applied to c2: the dedup pipeline's
    * tunable (k minhashes × bands) needs a measured recall number, not a
    * hope. TRUTH = every pair verifying at exact jaccard ≥ threshold
    * over pairs sharing ≥ 1 shingle — and pairs sharing NO shingle have
    * jaccard 0 < any threshold, so the shingle equi-join IS the complete
    * truth, no cross join anywhere (stronger than c72's embedding side,
    * where truth genuinely needs the cross join). BANDED = c2's
    * collided candidates verifying at the same threshold. Folds to ONE
    * row (n_exact, n_banded, n_hit, recall_r) — c2 verifies its
    * candidates exactly, so banded ⊆ truth and n_hit = n_banded: the
    * gate measures RECALL, precision is 1.0 by construction.
    *
    * Eval-confined (c72's documented rule): the truth side's
    * shared-shingle pair expansion is quadratic in per-shingle document
    * frequency — right for an eval corpus/sample, never the production
    * path (which stays c2's banding). Thresholds compare the ROUNDED
    * 6-dp jaccard on both sides (c37's threshold rule). */
  def c83MinhashRecall(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame = {
    val p = shingleTablePath(spark, dir)
    val sh = spark.read.parquet(p)
    requireTruthDfCap(sh, memoPath = Some(p))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(jaccardCol(col("ni"), col("na"), col("nb")) >= threshold)
      .select("doc_a", "doc_b")
    val banded = c2DedupMinhash(spark, dir)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
    truth.withColumn("e", lit(1)).withColumn("b", lit(0))
      .unionByName(banded.withColumn("e", lit(0)).withColumn("b", lit(1)))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("e")).as("e"), max(col("b")).as("b"))
      .agg(sum(col("e")).cast("bigint").as("n_exact"),
        sum(col("b")).cast("bigint").as("n_banded"),
        sum(col("e") * col("b")).cast("bigint").as("n_hit"))
      .transform(TextOps.ratio6On(_, "recall_r",
        org.apache.spark.sql.functions.col("n_hit"),
        org.apache.spark.sql.functions.col("n_exact")))
  }

  /** c26: passage-level dedup (the CCNet/C4 paragraph-dedup technique,
    * applied to fixed 10-token passages because this corpus has no line
    * structure): every passage is owned by the minimum doc_id that
    * contains it; other occurrences are dropped and the doc is
    * reconstructed from its kept passages. Per doc: passage counts,
    * kept/dropped, and the md5 of the reconstructed text (NULL when every
    * passage was owned elsewhere, i.e. the doc is fully redundant).
    *
    * Scale shape: explode to (doc, pos, token) → groupBy (doc, passage
    * idx) to build passages → ownership is ONE groupBy on md5(passage)
    * (16-byte keys, never passage bodies at the reduce side after
    * map-side partial min) → equi-join back → per-doc aggregate. No
    * all-pairs anywhere; at 100 TB the passage-hash shuffle dominates and
    * is O(total tokens / passage size). */
  def c26PassageDedup(spark: SparkSession, dir: String,
                      passageTokens: Int = 10): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), floor(col("pos") / passageTokens).as("pidx"),
        col("pos"), col("col").as("tok"))
    val passages = toks.groupBy("doc_id", "pidx")
      .agg(array_join(
        sort_array(collect_list(struct(col("pos"), col("tok")))).getField("tok"),
        " ").as("passage"))
    val owners = passages.groupBy(md5(col("passage")).as("h"))
      .agg(min("doc_id").as("owner"))
    passages.withColumn("h", md5(col("passage"))).join(owners, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("owner") =!= col("doc_id"), 1L).otherwise(0L)).as("n_dropped"),
        collect_list(when(col("owner") === col("doc_id"),
          struct(col("pidx"), col("passage")))).as("kept_arr"))
      .select(col("doc_id"), col("n_passages"), col("n_kept"), col("n_dropped"),
        when(size(col("kept_arr")) > 0,
          md5(array_join(sort_array(col("kept_arr")).getField("passage"), " ")))
          .as("kept_md5"))
      .orderBy("doc_id")
  }

  /** c81: containment dedup — the ASYMMETRIC near-dup relation Jaccard
    * misses: a short document wholly quoted inside a long one has
    * containment |A∩B|/|A| ≈ 1 but Jaccard |A∩B|/|A∪B| ≈ |A|/|B| → 0, so
    * c2's banded MinHash (an estimator OF Jaccard) structurally cannot
    * surface it — the standard corpus-curation gap (quote farms, boiler-
    * plate wrappers, doc-in-doc aggregation pages). Candidates come from
    * WINNOW-FINGERPRINT collisions instead (c57's positional-robustness
    * guarantee: ANY shared run of ≥ w+k−1 = 8 tokens yields an identical
    * selected fingerprint, regardless of where it sits in either doc),
    * which is exactly the recall argument an asymmetric pair needs and
    * banding can't make; verification is the exact distinct-shingle
    * containment in both directions via c2's equi-join count. Ratios
    * round by EXACT-INTEGER half-away-from-zero division (the c80
    * lesson: n_common·10⁶/n lands on .5 ties for power-of-two set
    * sizes, where decimal-HALF_UP and double-rounding engines split).
    *
    * Scale shape: the fingerprint join is an equi-join on a 32-byte key
    * over the winnowing index (≈ 2/(w+1) of the corpus' gram count —
    * the index a dedup service already maintains, c57/d25); the verify
    * joins are shingle-key equi-joins confined to collided candidates.
    * Never all-pairs; bodies never shuffle. */
  def c81ContainmentDedup(spark: SparkSession, dir: String,
                          threshold: Double = 0.5): DataFrame =
    containmentOn(graft.Tables.documentsFanned(spark, dir),
      spark.read.parquet(shingleTablePath(spark, dir)), threshold)

  /** c81's core over injectable frames (`docs` for the winnow index,
    * `sh` the distinct (doc_id, shingle) table) — the seam the spec's
    * synthetic doc-in-doc corpus and a shingle-store-owning service
    * both use. */
  def containmentOn(docs: DataFrame, sh: DataFrame,
                    threshold: Double = 0.5): DataFrame = {
    val idx = graft.operators.TextOps.winnowIndex(docs)
    val pairs = idx.select(col("fp"), col("doc_id").as("doc_a"))
      .join(idx.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    // round6(n_common/n) as exact integers: (2·n_common·10⁶ + n) div (2n)
    // — all operands nonnegative, so div is floor is truncate in both
    // engines
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("cont_a_in_b_r",
        expr("(2*n_common*1000000 + na) div (2*na)").cast("double") / 1e6)
      .withColumn("cont_b_in_a_r",
        expr("(2*n_common*1000000 + nb) div (2*nb)").cast("double") / 1e6)
      .withColumn("contained",
        greatest(col("cont_a_in_b_r"), col("cont_b_in_a_r")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"),
        col("nb"), col("cont_a_in_b_r"), col("cont_b_in_a_r"),
        col("contained"))
      .orderBy("doc_a", "doc_b")
  }

  /** c4: token-3-gram Jaccard over adjacent-id candidate pairs. The pair
    * generator here is deliberately trivial (id, id+1) so the oracle can
    * reproduce it; production candidate pairs come from c2/c3 banding and
    * reuse the same jaccard column expression. */
  def c4NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val ex = spark.read.parquet(shingleTablePath(spark, dir))
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))
      .join(sizes.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"), col("n").as("nb")), "doc_a")
    // shared grams of (d, d+1) via self-equi-join on (shifted id, gram);
    // left join + coalesce keeps zero-overlap pairs (the oracle does too)
    val inter = ex.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(ex.select((col("doc_id") - 1).as("doc_a"), col("shingle")),
        Seq("doc_a", "shingle"))
      .groupBy("doc_a").agg(count(lit(1)).as("ni"))
    pairs.join(inter, Seq("doc_a"), "left")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .select(col("doc_a"), col("doc_b"), col("ni").as("n_common"),
        jaccardCol(col("ni"), col("na"), col("nb")).as("jaccard"))
      .orderBy("doc_a")
  }

  /** c62: maximal duplicated-substring spans — the substring-level dedup
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"), which c1/c26 miss: WHICH token runs of a
    * doc also occur elsewhere in the corpus, as explicit [start, end]
    * intervals a scrubber can cut. Every n-token shingle occurring more
    * than once corpus-wide (any position, intra- or inter-doc) marks its
    * start as duplicated; duplicated starts whose shingle intervals
    * [i, i+n-1] overlap or touch merge into maximal spans per doc
    * (gaps-and-islands: break when the start gap exceeds n). One row per
    * span: token bounds, width, and the duplicated-start count inside it.
    *
    * Scale shape: one positional-shingle explode (the codegen'd
    * element_at-concat form, [[shingleRows]]'s rule) hashed to 16-byte
    * md5 keys; a map-side-combined count per key; an equi-join back on
    * the key (candidates only — non-repeated shingles never shuffle
    * twice); then a per-doc window over only the DUPLICATED starts, so
    * window frames are doc-bounded and sparse, never corpus-wide.
    * Nothing is all-pairs. A full suffix-array (arbitrary-length exact
    * match) refines the boundary by at most n-1 tokens at each end —
    * this fixed-n formulation is the standard distributed approximation
    * and is what keeps the whole operator three narrow shuffles. */
  def c62DupSpans(spark: SparkSession, dir: String, n: Int = 5): DataFrame =
    spansOfPos(spark.read.parquet(posShingleTablePath(spark, dir, n)), n)

  /** Positional n-shingles as (doc_id, i, sh) rows — [[shingleCore]]
    * with the shingle hashed to its md5 (16-byte keys — shuffles never
    * carry shingle bodies) and positions kept: they matter here. Shared
    * by c62/c63 and d26's arrival side. */
  private[graft] def positionalShingles(docs: DataFrame, n: Int,
      tokens: Column => Column = asciiTokens): DataFrame =
    shingleCore(docs, n, tokens)
      .select(col("doc_id"), col("i"), md5(col("shingle")).as("sh"))

  /** Per-JVM memoized POSITIONAL shingle table ([[shingleTablePath]]'s
    * rule for the span family): the scan+split+explode+md5 subtree
    * feeds TWO consumers inside c62 (repeat count + hit side) and two
    * inside c63, and c62/c63 share a corpus in any Verify/Bench run —
    * materialized once per (dir, n), each consumer scans a small
    * parquet. */
  private[graft] def posShingleTablePath(spark: SparkSession, dir: String,
                                         n: Int = 5): String =
    graft.Memo.table("posshingles", Seq(dir), n) { p =>
      positionalShingles(Tables.documentsFanned(spark, dir), n)
        .coalesce(math.max(8,
          spark.sessionState.conf.numShufflePartitions / 4))
        .write.parquet(p)
    }

  /** Gaps-and-islands merge of duplicated start positions into maximal
    * spans: starts whose [i, i+n-1] intervals overlap or touch (gap ≤ n)
    * fuse; the window partitions by doc and only ever sees the
    * duplicated starts — doc-bounded, sparse frames. Shared by c62 and
    * the batch aggregation of d26's hit stream. */
  private[graft] def mergeStartIslands(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("doc_id").orderBy("i")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      // first duplicated start of a doc has a NULL lag: NULL > n is not
      // true, so it opens island 0 — no special case needed
      .withColumn("brk",
        when(col("i") - lag("i", 1).over(wOrd) > n, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy("doc_id", "island")
      .agg(min(col("i")).as("span_start"), max(col("i")).as("mx"),
        count(lit(1)).as("n_dup_shingles"))
      .select(col("doc_id"), col("span_start"),
        (col("mx") + (n - 1)).as("span_end"),
        (col("mx") - col("span_start") + n).as("span_tokens"),
        col("n_dup_shingles"))
      .orderBy("doc_id", "span_start")
  }

  /** The at-rest shingle index d26 probes: the DISTINCT md5 n-shingle
    * keys of a corpus — the artifact a span-aware ingest materializes
    * (and at scale buckets by sh) next to c37's shingle table. */
  def dupShingleIndexOf(docs: DataFrame, n: Int = 5): DataFrame =
    positionalShingles(docs, n).select("sh").distinct()

  /** The generic span finder — `Main spans` runs it over any parquet
    * with (doc_id, text) columns. See [[c62DupSpans]] for semantics. */
  def dupSpans(docs: DataFrame, n: Int = 5,
               tokens: Column => Column = asciiTokens): DataFrame =
    spansOfPos(positionalShingles(docs, n, tokens), n)

  /** Span finding over an already-built positional-shingle frame —
    * the memoized-table path (c62) and the live path (generic) meet
    * here, so the two provably share every expression. */
  private def spansOfPos(pos: DataFrame, n: Int): DataFrame = {
    val dup = pos.groupBy("sh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("sh")
    mergeStartIslands(pos.join(dup, "sh").select("doc_id", "i"), n)
  }

  /** c65: variable-length duplicated spans under a minimum match
    * threshold — Lee et al. 2021 dedups at "substring match ≥ 50
    * tokens"; a fixed-n shingle pass alone cannot express that: c62's
    * n=5 spans overestimate (overlapping repeats of DIFFERENT short
    * shingles chain into long spans with no long exact match behind
    * them). This operator composes two fixed-n passes into the
    * thresholded semantics:
    *
    *  - CANDIDATES: c62's n=5 spans cut at span_tokens ≥ minSpan. A
    *    true duplicated substring of length L ≥ minSpan produces a run
    *    of L−4 duplicated 5-shingle starts, so every qualifying match
    *    is inside some candidate — the cut loses nothing.
    *  - CONFIRMATION: a candidate survives iff ≥ 1 duplicated
    *    strongN-shingle lies WHOLLY inside it — an exact strongN-token
    *    duplicate, the evidence chained-5-shingle mirages can't fake.
    *    n_exact counts the confirming starts (≈ exact-match coverage).
    *
    * Scale shape: the n=5 span subtree is c62's (memoized positional
    * table); the strongN pass is the same shape at n=20 (its own
    * memoized table, shared with any other strongN consumer); the
    * confirm join is a doc_id equi-join + row-local range predicate
    * over two SPARSE frames (spans, duplicated starts — never corpus
    * tokens). Nothing all-pairs, nothing token-keyed. */
  def c65SpanMinlen(spark: SparkSession, dir: String, minSpan: Int = 20,
                    strongN: Int = 20): DataFrame =
    spark.read.parquet(confirmedSpanTablePath(spark, dir, minSpan, strongN))
      .orderBy("doc_id", "span_start")

  /** The live c65 computation the memo materializes (and the plan-audit
    * spec audits via [[dupSpansMin]], which shares every expression). */
  private def c65Compute(spark: SparkSession, dir: String, minSpan: Int,
                         strongN: Int): DataFrame = {
    val spans = c62DupSpans(spark, dir).filter(col("span_tokens") >= minSpan)
    spanConfirm(spans,
      spark.read.parquet(posShingleTablePath(spark, dir, strongN)), strongN)
  }

  /** Per-JVM memoized CONFIRMED-span table (posShingleTablePath's rule
    * one level up): the c65 span subtree feeds c65's own gate output
    * AND c67's cut restriction — materialized once per
    * (dir, minSpan, strongN), each consumer scans a small parquet.
    * [[dupSpansMin]]/[[scrubSpansMin]] are the live-recompute entry
    * points. */
  private[graft] def confirmedSpanTablePath(spark: SparkSession, dir: String,
                                            minSpan: Int = 20,
                                            strongN: Int = 20): String =
    graft.Memo.table("spanmin", Seq(dir), minSpan, strongN) { p =>
      c65Compute(spark, dir, minSpan, strongN).write.parquet(p)
    }

  /** The generic thresholded span finder — the live-recompute twin of
    * [[c65SpanMinlen]] (`Main spans --min-span`). */
  def dupSpansMin(docs: DataFrame, minSpan: Int = 20, strongN: Int = 20,
                  n: Int = 5,
                  tokens: Column => Column = asciiTokens): DataFrame = {
    require(minSpan >= strongN,
      s"minSpan=$minSpan must be >= strongN=$strongN, or a confirming " +
        "shingle cannot fit inside the shortest candidate")
    spanConfirm(
      dupSpans(docs, n, tokens).filter(col("span_tokens") >= minSpan),
      positionalShingles(docs, strongN, tokens), strongN)
  }

  /** Confirm candidate spans against a strongN positional-shingle frame:
    * keep spans containing ≥ 1 duplicated strongN-shingle wholly inside
    * their token range, with the confirming-start count. */
  private def spanConfirm(spans: DataFrame, posStrong: DataFrame,
                          strongN: Int): DataFrame = {
    val dupStrong = posStrong.groupBy("sh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("sh")
    confirmSpans(spans,
      posStrong.join(dupStrong, "sh").select(col("doc_id"), col("i")),
      strongN)
  }

  /** Confirm candidate spans against an ALREADY-DERIVED duplicated-start
    * frame (doc_id, i) at width strongN — the seam where the batch path
    * (corpus-global duplicate derivation, [[spanConfirm]]) and the
    * streaming path (arrival-vs-at-rest index probes,
    * [[spansMinOfHits]]) meet, so both provably share the confirm
    * semantics. doc_id equi-join + row-local range predicate over two
    * sparse frames. */
  private[graft] def confirmSpans(spans: DataFrame, starts: DataFrame,
                                  strongN: Int): DataFrame = {
    // rename the start side up front: when both frames derive from ONE
    // source (the d27 fold feeds the same sink table to both), df("col")
    // disambiguation fails with conflicting references — fresh attribute
    // ids from the projection cannot
    val st = starts.select(col("doc_id").as("s_doc_id"), col("i").as("s_i"))
    spans.join(st,
      col("doc_id") === col("s_doc_id") &&
        col("s_i") >= col("span_start") &&
        col("s_i") + (strongN - 1) <= col("span_end"))
      .groupBy(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_dup_shingles"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy("doc_id", "span_start")
  }

  /** Batch fold of d27's tagged hit stream ((doc_id, i, strong) rows —
    * [[graft.streaming.StreamOps.streamSpanHits]]): islands of the
    * weak (n-width) hits cut at minSpan, confirmed by the strong
    * (strongN-width) hits. The streaming-side c65: candidates and
    * evidence both carry the arrival-vs-AT-REST semantic of the index
    * probes that produced the hits. */
  def spansMinOfHits(hits: DataFrame, n: Int = 5, minSpan: Int = 20,
                     strongN: Int = 20): DataFrame =
    confirmSpans(
      mergeStartIslands(hits.filter(not(col("strong")))
        .select("doc_id", "i"), n)
        .filter(col("span_tokens") >= minSpan),
      hits.filter(col("strong")).select("doc_id", "i"),
      strongN)

  /** c69: substring-duplication CLUSTERS — c19's cluster view at
    * substring granularity: two docs connect when they SHARE a
    * duplicated strongN-shingle value (an exact ≥ strongN-token common
    * substring — c65's confirmation evidence used as an edge), and
    * connected components give each doc a cluster id (its own id when
    * it shares no long substring with anything; is_canonical marks the
    * min-id member a dedup pipeline keeps). Intra-doc repetition does
    * NOT connect anything (cluster semantics are inter-doc by
    * definition; c62/c64 carry the intra-doc signal). Closes the span
    * family's missing report: c65 says WHERE long duplication sits,
    * c69 says WHICH DOCS form each duplication group.
    *
    * Scale shape: distinct (sh, doc) projection of the memoized
    * positional table; per shingle value a STAR to the min doc — a hot
    * boilerplate shingle shared by k docs contributes k−1 edges, never
    * k² (star edges preserve connectivity exactly); components via the
    * large-star/small-star alternation (O(log n) rounds), labels
    * memoized like c19's. */
  def c69SpanClusters(spark: SparkSession, dir: String,
                      strongN: Int = 20): DataFrame = {
    val comp = spark.read.parquet(spanClusterTablePath(spark, dir, strongN))
      .select(col("node").as("doc_id"), col("cluster_id").as("cc"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** The at-rest ROUTING table d29 probes: every strongN-shingle of a
    * clustered doc mapped to that doc's cluster id — (sh, cluster_id),
    * distinct. Sharing a shingle implies sharing a cluster (it IS the
    * edge relation), so each sh maps to exactly ONE cluster; at scale
    * the table is bucketed by sh like every probe index here. */
  def spanClusterRoutingOf(spark: SparkSession, dir: String,
                           strongN: Int = 20): DataFrame = {
    val docSh = spark.read
      .parquet(posShingleTablePath(spark, dir, strongN))
      .select("sh", "doc_id").distinct()
    val labels = spark.read
      .parquet(spanClusterTablePath(spark, dir, strongN))
      .select(col("node").as("doc_id"), col("cluster_id"))
    docSh.join(labels, "doc_id").select("sh", "cluster_id").distinct()
  }

  private[graft] def spanClusterTablePath(spark: SparkSession, dir: String,
                                          strongN: Int = 20): String =
    graft.Memo.table("spanclusters", Seq(dir), strongN) { p =>
      val docSh = spark.read
        .parquet(posShingleTablePath(spark, dir, strongN))
        .select("sh", "doc_id").distinct()
      val roots = docSh.groupBy("sh")
        .agg(min(col("doc_id")).as("root"), count(lit(1)).as("nd"))
        .filter(col("nd") > 1).select("sh", "root")
      val edges = docSh.join(roots, "sh")
        .filter(col("doc_id") =!= col("root"))
        .select(col("root").as("u"), col("doc_id").as("v"))
        .distinct()
      connectedComponentsAlternating(edges)._1
        .select(col("node"), col("cluster_id"))
        .write.parquet(p)
    }

  /** c63: span scrub — the transform c62's report feeds: rewrite every
    * doc with its non-canonical duplicated runs CUT, keeping exactly one
    * copy of each duplicated n-shingle corpus-wide (Lee et al. 2021's
    * keep-one-occurrence rule at shingle granularity). The canonical
    * occurrence of a shingle value is the corpus-first (min doc_id, then
    * min start); a token is cut iff some non-owned duplicated shingle
    * covers it AND no owned one does (the owned-coverage guard keeps the
    * surviving copy intact where overlapping shingles disagree). Tokens
    * re-join in original case and position order; docs below n tokens
    * pass through untouched.
    *
    * Scale shape: c62's positional-shingle pass; ownership is ONE
    * groupBy on the 16-byte shingle key (min-struct, map-side
    * combinable); duplicated starts fold to one sparse per-doc array,
    * the cut set derives row-locally from it, and the rebuild is one
    * doc_id equi-join + in-place array indexing — zero token-level
    * exchanges (see [[scrubOfPos]]). No all-pairs, no corpus-wide
    * window. */
  def c63SpanScrub(spark: SparkSession, dir: String, n: Int = 5): DataFrame =
    scrubOfPos(Tables.documents(spark, dir),
      spark.read.parquet(posShingleTablePath(spark, dir, n)), n)

  /** The generic scrubber — see [[c63SpanScrub]] for semantics. */
  def scrubSpans(docs: DataFrame, n: Int = 5): DataFrame =
    scrubOfPos(docs, positionalShingles(docs, n), n)

  /** c67: THRESHOLDED span scrub — c63's keep-one-copy rewrite applied
    * only inside c65's CONFIRMED long spans: Lee et al. 2021 remove
    * duplicated substrings at a minimum match length, not every stray
    * repeated shingle (c63's full form over-cuts boilerplate-heavy
    * corpora — short incidental repeats like dates or headers are not
    * duplication to remove). A token is cut iff c63 would cut it AND it
    * lies inside a confirmed ≥ minSpan span of its doc. Completes the
    * substring-dedup family: c62 report → c65 threshold → c67 scrub →
    * c64 profile.
    *
    * Scale shape: the c63 cut-array subtree and the c65 span subtree
    * (both over memoized positional tables), one extra doc_id
    * equi-join between two SPARSE per-doc-array frames, and a
    * row-local array intersection — still zero token-level exchanges
    * in the whole rebuild. */
  def c67ScrubMinlen(spark: SparkSession, dir: String, n: Int = 5,
                     minSpan: Int = 20, strongN: Int = 20): DataFrame =
    rebuildScrubbed(Tables.documents(spark, dir),
      restrictCuts(
        cutPositionsOf(
          spark.read.parquet(posShingleTablePath(spark, dir, n)), n),
        spark.read.parquet(
          confirmedSpanTablePath(spark, dir, minSpan, strongN))))

  /** The generic thresholded scrubber (`Main scrub --min-span`) — the
    * live-recompute twin of [[c67ScrubMinlen]]. */
  def scrubSpansMin(docs: DataFrame, n: Int = 5, minSpan: Int = 20,
                    strongN: Int = 20): DataFrame =
    rebuildScrubbed(docs,
      restrictCuts(cutPositionsOf(positionalShingles(docs, n), n),
        dupSpansMin(docs, minSpan, strongN, n)))

  /** Restrict per-doc cut arrays to positions inside a confirmed span
    * of the same doc — a doc_id equi-join of two sparse array frames +
    * a row-local filter/exists intersection. Renamed join key up front
    * (the confirmSpans rule: both sides derive from one positional
    * table). */
  private def restrictCuts(cutArr: DataFrame, spans: DataFrame): DataFrame = {
    val spanArr = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sps"))
      .select(col("doc_id").as("s_doc_id"), col("sps"))
    cutArr.join(spanArr, col("doc_id") === col("s_doc_id"))
      .select(col("doc_id"),
        filter(col("cutps"), p => exists(col("sps"), sp =>
          p >= sp.getField("span_start") && p <= sp.getField("span_end")))
          .as("cutps"))
  }

  /** c64: corpus duplication profile — the headline number
    * substring-dedup work reports (Lee et al. 2021 table 1's shape):
    * per language, how many tokens sit inside duplicated spans, as an
    * exact count and one rounded share. Composes c62's span table
    * (memoized — this adds NO new corpus scan beyond the token count):
    * per-doc span-token sums, left-joined so span-free docs count zero,
    * folded per lang. Every value an exact BIGINT or ONE 6-dp-rounded
    * division of exact BIGINTs — engine-identical.
    *
    * Scale shape: one map-side-combined token-count pass, the span
    * subtree's own cost, a doc-keyed equi-join, a lang-keyed
    * (bounded-domain) fold. Nothing new grows with corpus size. */
  def c64DupStats(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
    val perDocDup = c62DupSpans(spark, dir, n)
      .groupBy("doc_id").agg(sum(col("span_tokens")).as("dup_tokens"))
    perDoc.join(perDocDup, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("dup_tokens")).as("dup_tokens"))
      .transform(TextOps.ratio6On(_, "dup_share_r",
        org.apache.spark.sql.functions.col("dup_tokens"),
        org.apache.spark.sql.functions.col("n_tokens")))
      .orderBy("lang")
  }

  /** Scrub over an already-built positional-shingle frame (`pos` MUST
    * be [[positionalShingles]] of `docs` — the memoized-table and live
    * paths meet here).
    *
    * The rebuild carries ZERO token-level exchanges (the r10 audit's one
    * finding: the old form posexploded every corpus token, joined on
    * (doc_id, p), and re-grouped per doc — the suite's two biggest
    * shuffles). Now the doc's duplicated starts fold to ONE sparse
    * per-doc array (sparse: only duplicated starts, never the corpus),
    * the cut-position set derives ROW-LOCALLY from it (covered-by-
    * unowned minus covered-by-owned, via sequence/flatten/array_except
    * HOFs), and one doc_id equi-join hands it to the doc row, where
    * kept positions index the token array in place. Every exchange in
    * the whole operator is keyed by the 16-byte shingle hash or by
    * doc_id — nothing scales with tokens, only with docs and with
    * duplicated starts. */
  private def scrubOfPos(docs: DataFrame, pos: DataFrame,
                         n: Int): DataFrame =
    rebuildScrubbed(docs, cutPositionsOf(pos, n))

  /** Per-doc cut positions as ONE sparse array (doc_id, cutps) —
    * positions covered by some non-owned duplicated shingle and by NO
    * owned one. The c63 half the c67 span restriction composes on. */
  private[graft] def cutPositionsOf(pos: DataFrame, n: Int): DataFrame = {
    // one fold per shingle value: occurrence count + the canonical
    // (corpus-first) occurrence as a lexicographic struct minimum
    val stats = pos.groupBy("sh").agg(count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("i"))).as("own"))
    val dupStarts = pos.join(stats.filter(col("cnt") > 1), "sh")
      .select(col("doc_id"), col("i"),
        (col("own.doc_id") === col("doc_id") && col("own.i") === col("i"))
          .as("owned"))
    dupStarts
      .groupBy("doc_id")
      .agg(collect_list(struct(col("i"), col("owned"))).as("ss"))
      .select(col("doc_id"),
        array_except(
          array_distinct(flatten(transform(
            filter(col("ss"), s => not(s.getField("owned"))),
            s => sequence(s.getField("i"), s.getField("i") + (n - 1))))),
          flatten(transform(
            filter(col("ss"), s => s.getField("owned")),
            s => sequence(s.getField("i"), s.getField("i") + (n - 1)))))
          .as("cutps"))
  }

  // ---- exact maximal-match spans (r12): the suffix-automaton upgrade of
  // ---- the fixed-n shingle approximation, scoped to the ONE surface
  // ---- where it is affordable at 100 TB — per-pair verification inside
  // ---- c69's sparse duplication clusters

  /** Longest exact common token run of two token arrays, O(|a|+|b|):
    * a suffix automaton of `a` (Blumer et al. 1985 — the standard online
    * construction) walked once by `b`. Returns (len, startA, startB),
    * zero-based; (0, -1, -1) when no token is shared. Deterministic tie
    * break: the FIRST (smallest startB) longest match wins, and startA is
    * the match's first occurrence in `a` (the automaton's first-endpos),
    * so the result is a pure function of the inputs — partition- and
    * engine-invariant like every gate expression.
    *
    * This is the EXACT structure the c62/c65 shingle machinery
    * approximates: those report spans stitched from fixed-n shingle
    * hits, which is the right distributed trade corpus-wide (16-byte
    * keys, equi-joins, no bodies shuffled) but can overstate a true
    * contiguous match — periodic text is the classic adversary: every
    * n-shingle of a long periodic region recurs elsewhere, so stitching
    * spans the whole region while the longest true common run is one
    * period chain (ExactSpanSpec constructs it). Row-local and
    * imperative by nature, hence a plain JVM function (the codec rule),
    * not an approximation in Column algebra. */
  private[graft] def longestCommonRun(a: IndexedSeq[String],
                                      b: IndexedSeq[String]): (Int, Int, Int) = {
    if (a.isEmpty || b.isEmpty) return (0, -1, -1)
    val maxStates = 2 * a.length + 4
    val link = new Array[Int](maxStates)
    val slen = new Array[Int](maxStates)
    val firstPos = new Array[Int](maxStates)
    val next = new Array[java.util.HashMap[String, Integer]](maxStates)
    var size = 1
    var last = 0
    link(0) = -1
    next(0) = new java.util.HashMap[String, Integer]()
    def addState(l: Int): Int = {
      val s = size; size += 1
      slen(s) = l
      next(s) = new java.util.HashMap[String, Integer]()
      s
    }
    var i = 0
    while (i < a.length) {
      val c = a(i)
      val cur = addState(slen(last) + 1)
      firstPos(cur) = i
      var p = last
      while (p != -1 && !next(p).containsKey(c)) {
        next(p).put(c, cur)
        p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = next(p).get(c).intValue
        if (slen(p) + 1 == slen(q)) link(cur) = q
        else {
          val clone = addState(slen(p) + 1)
          next(clone).putAll(next(q))
          link(clone) = link(q)
          firstPos(clone) = firstPos(q)
          var pp = p
          while (pp != -1 && {
              val t = next(pp).get(c); t != null && t.intValue == q }) {
            next(pp).put(c, clone)
            pp = link(pp)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }
    var v = 0
    var l = 0
    var bestLen = 0
    var bestA = -1
    var bestB = -1
    var j = 0
    while (j < b.length) {
      val c = b(j)
      while (v != 0 && !next(v).containsKey(c)) {
        v = link(v)
        l = slen(v)
      }
      val t = next(v).get(c)
      if (t != null) { v = t.intValue; l += 1 }
      else { v = 0; l = 0 }
      if (l > bestLen) {
        bestLen = l
        bestB = j - l + 1
        bestA = firstPos(v) - l + 1
      }
      j += 1
    }
    (bestLen, bestA, bestB)
  }

  /** Exact per-pair span verification inside c69's clusters: for every
    * (canonical, member) pair of each non-singleton substring-duplication
    * cluster, the longest EXACT common token run — length and both start
    * positions — via [[longestCommonRun]]. Closes the span family's
    * precision gap on the one surface where exactness is affordable:
    * cluster membership already proves a shared ≥ strongN-token run (a
    * c69 edge IS a shared strongN-shingle value), this measures it to the
    * token.
    *
    * 100 TB shape: pairs are canonical × member — LINEAR in cluster
    * sizes, never member×member, and duplication clusters are sparse by
    * construction (they exist only where long verbatim duplication
    * exists); bodies join by doc_id equi-joins; the automaton is
    * O(|a|+|b|) row-local with no state shared across rows. The
    * corpus-wide span REPORT stays on the shingle approximation (c62/c65
    * — 16-byte keys, no bodies shuffled); this pass upgrades its verdict
    * per flagged pair, exactly like c2's banding hands candidates to an
    * exact Jaccard verify. */
  def exactClusterSpans(spark: SparkSession, dir: String,
                        strongN: Int = 20): DataFrame = {
    import spark.implicits._
    val cl = c69SpanClusters(spark, dir, strongN)
    val canon = cl.filter(col("is_canonical"))
      .select(col("cluster_id"), col("doc_id").as("doc_a"))
    val members = cl.filter(!col("is_canonical"))
      .select(col("cluster_id"), col("doc_id").as("doc_b"))
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
    canon.join(members, "cluster_id")
      .join(toks.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .select(col("cluster_id"), col("doc_a"), col("doc_b"),
        col("ta"), col("tb"))
      .as[(Long, Long, Long, Seq[String], Seq[String])]
      .mapPartitions(_.map { case (cid, da, db, ta, tb) =>
        val (len, sa, sb) = longestCommonRun(ta.toIndexedSeq, tb.toIndexedSeq)
        (cid, da, db, len.toLong, sa.toLong, sb.toLong)
      })
      .toDF("cluster_id", "doc_a", "doc_b", "len_exact", "start_a", "start_b")
      .orderBy("cluster_id", "doc_a", "doc_b")
  }

  /** Rebuild every doc from its sparse cut-position array — the shared
    * zero-token-shuffle rebuild of c63 and c67 (one doc_id equi-join,
    * row-local array indexing). */
  private def rebuildScrubbed(docs: DataFrame, cutArr: DataFrame): DataFrame = {
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("tko"))
    base.join(cutArr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tko"),
        size(col("tko")).cast("bigint").as("n_tokens"),
        coalesce(col("cutps"), array().cast("array<bigint>")).as("cutps"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("cutps")).cast("bigint").as("n_cut"),
        // kept positions in order (array_except preserves the sorted
        // first argument), each indexing the token array in place
        array_join(transform(
          array_except(sequence(lit(0L), col("n_tokens") - 1), col("cutps")),
          p => element_at(col("tko"), (p + 1).cast("int"))), " ")
          .as("scrubbed_text"))
      .orderBy("doc_id")
  }
}
