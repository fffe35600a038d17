package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search over embedding columns (SURVEY §2 c5, c6, c11).
  *
  * Brute-force top-k is the correctness baseline: broadcast the (small)
  * query set, score candidates in a single codegen'd pass (the native
  * CosineSimilarity expression — no UDF, no interpreted HOFs), keep top-k
  * per query with a window. At cluster scale the candidate side streams
  * from parquet splits; only k rows per query per partition survive the
  * partial top-k.
  *
  * The scale path (c6, c11) buckets vectors with seeded random-hyperplane
  * LSH (sign pattern of dot products against deterministic
  * Gaussian-approximate planes — VectorFunctions.lshPlanes): scoring
  * happens only inside a bucket, turning the O(n·q) scan into an equi-join
  * on the bucket key. More planes → smaller buckets → cheaper + lower
  * recall; the IVF variant (c18) swaps the sign pattern for a
  * learned-centroid id with the same join shape.
  */
object Similarity {

  /** Monotone id distinguishing [[trainCodebook]] invocations' scratch. */
  private val trainRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Elementwise ops in double precision (embeddings are float32 on disk;
    * scoring in f64 keeps accumulation order-stable and engine-portable).
    * Cast (not transform) — a native codegen'd conversion. */
  private[graft] def toDouble(c: Column): Column = c.cast("array<double>")

  /** Cosine via the native codegen'd expression (graft.functions) — the
    * aggregate∘zip_with formulation is interpreted and was the dominant
    * ANN cost; accumulation order is identical, results bit-equal. */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine(a, b)

  /** Embedding dimensionality of the testdata corpus; planes are generated
    * for this width (extra dims would simply be ignored by the dot). */
  private[graft] val EmbeddingDim = 64

  /** Seeded random-hyperplane LSH bucket: sign pattern of `planes` exact
    * integer dot products against deterministic Gaussian-approximate
    * hyperplanes (VectorFunctions.lshPlanes — full-dimensional, seeded,
    * regenerable by any engine). One codegen'd projection per row; the
    * round-5 axis-aligned variant read only the leading coordinates and
    * its recall collapses on anisotropic embeddings. */
  private[graft] def signBucket(emb: Column, planes: Int): Column =
    VectorFunctions.hyperplaneBucket(
      emb, VectorFunctions.lshPlanes(planes, EmbeddingDim))

  /** c5: brute-force cosine top-k. Query vectors: vec_id < 5 (broadcast);
    * candidates: the rest. */
  def c5AnnBrute(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = broadcast(
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), toDouble(col("embedding")).as("qv")))
    val candidates = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), toDouble(col("embedding")).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    candidates.crossJoin(queries)
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy("query_id", "rnk")
  }

  /** c6: LSH-bucketed ANN — same contract as c5 but candidates are only
    * scored when they share the query's bucket. The crossJoin becomes a
    * hash equi-join on the bucket key: at 100 TB each query touches
    * n/2^planes candidates instead of n. */
  def c6AnnLsh(spark: SparkSession, dir: String,
               k: Int = 5, planes: Int = 6): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"),
        signBucket(col("embedding"), planes).as("bucket"))
    val queries = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket")))
    val candidates = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    candidates.join(queries, "bucket")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy("query_id", "rnk")
  }

  /** c28: random-projection dimensionality reduction (Johnson–Lindenstrauss)
    * — project each embedding onto `nPlanes` seeded integer hyperplanes in
    * one codegen'd pass ([[graft.functions.HyperplaneProject]], the
    * vector-valued sibling of c6's sign bucket). At 100 TB this is the 4×+
    * storage/compute reducer applied BEFORE clustering or brute-force
    * scoring: distances in the projected space preserve full-space angles
    * with distortion O(1/√planes). Output is long format (vec_id, plane,
    * proj) — narrow rows, engine-exact integers (fixed-point embedding ·
    * integer plane), which is what makes the DuckDB oracle reproduce every
    * coordinate bit-for-bit from inlined plane literals. */
  def c28RandomProjection(spark: SparkSession, dir: String,
                          nPlanes: Int = 16): DataFrame = {
    val planes = VectorFunctions.lshPlanes(nPlanes, EmbeddingDim, seed = "graft:rp")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(VectorFunctions.hyperplaneProject(col("embedding"), planes))
          .as(Seq("plane", "proj")))
      .select(col("vec_id"), col("plane").cast("bigint").as("plane"), col("proj"))
      .orderBy("vec_id", "plane")
  }

  /** c29: hard-negative mining — per query, the top-k most-similar
    * candidates with a DIFFERENT label: the contrastive-training
    * counterpart of c5 (the "hard negatives" a retrieval/embedding
    * trainer pairs with each anchor). Same plan shape as c5 — broadcast
    * query set, one codegen'd cosine pass, partial top-k per partition —
    * the label inequality is a pre-score filter, so mismatched-label rows
    * never reach the window. At 100 TB the candidate side streams from
    * splits exactly like c5; swap the crossJoin for c6's bucket join when
    * approximate negatives suffice. */
  def c29HardNegatives(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = broadcast(
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), toDouble(col("embedding")).as("qv"),
          col("label").as("q_label")))
    val candidates = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), toDouble(col("embedding")).as("cv"),
        col("label").as("c_label"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    candidates.crossJoin(queries)
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("c_label").cast("bigint").as("neg_label"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy("query_id", "rnk")
  }

  /** c33: hard-negative mining at scale — c29's contract through c6's
    * bucket equi-join: anchors and candidates meet on the seeded
    * hyperplane bucket key instead of a crossJoin, so the anchor set no
    * longer needs to broadcast (c29's crossJoin is only valid while the
    * query side fits in a broadcast). Negatives become approximate —
    * only bucket-colliding candidates are scored — which is the standard
    * trade for mining against a large anchor set: at 100 TB this is a
    * shuffle equi-join on the bucket key, never all-pairs. */
  def c33HardNegativesLsh(spark: SparkSession, dir: String,
                          k: Int = 5, planes: Int = 6): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"),
        signBucket(col("embedding"), planes).as("bucket"))
    // NO broadcast hint on the anchor side — the whole point of the keyed
    // form is that both sides can be corpus-sized; the optimizer still
    // picks a broadcast hash join when one side happens to be small
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("q_label"), col("bucket"))
    val candidates = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("label").as("c_label"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    candidates.join(queries, "bucket")
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("c_label").cast("bigint").as("neg_label"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy("query_id", "rnk")
  }

  /** c15: per-label centroids — the IVF building block (c6's scale path
    * swaps sign buckets for nearest-centroid ids with the same join
    * shape). One row per (label, dim): posexplode + two-level shuffle on a
    * 2-int key. Sums run in decimal so the result is independent of
    * partial-aggregation order (double sums are not) and matches any
    * engine bit-for-bit. */
  def c15EmbedCentroid(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        // fixed-point 1e-4 units as integers: float sums are partial-agg
        // order-dependent and decimal casts of floats round differently
        // across engines at the last digit; integer sums are exact
        round(col("col").cast("double") * 10000).cast("bigint").as("v"))
      .groupBy("label", "pos")
      .agg(sum(col("v")).as("sum_v4"), count(lit(1)).as("n"))
      .orderBy("label", "pos")

  /** c18: IVF (inverted-file) ANN — the learned-bucket upgrade of c6 that
    * c15 builds toward. Centroids = c15's per-label fixed-point means
    * (deterministic, so every engine derives the identical codebook);
    * every vector is assigned to its nearest centroid by cosine (a
    * broadcast of the tiny codebook — |labels| rows — against the vector
    * table, one codegen'd pass); queries then score candidates only inside
    * their own cell (nprobe=1). Same equi-join shape as c6 with learned
    * cells instead of sign patterns: at 100 TB each query touches n/cells
    * candidates, and the assignment pass is a cheap map-side cross with a
    * broadcast codebook. Recall vs the c5 exact baseline is spec-checked. */
  /** Label-initialized codebook (c15's fixed-point sums → per-label mean
    * vectors, ordered by dim via sort_array over (pos, value) structs) —
    * shared by c18 (search), c31 (the Lloyd training step) and
    * [[trainCodebook]]'s round 0. Memoized to scratch parquet per data dir
    * (the [[graft.operators.Dedup.shingleTablePath]] seam): the codebook
    * feeds BOTH assignment sides of an IVF search plus every training
    * round, and without the seam each consumer re-runs the corpus-wide
    * fixed-point aggregation. */
  private[graft] def labelCodebookPath(spark: SparkSession, dir: String): String =
    graft.Memo.table("label-cb", Seq(dir)) { p =>
      labelCodebookOf(Tables.embeddings(spark, dir)).write.parquet(p)
    }
  // no broadcast hint here: the codebook is only ever consumed through
  // assignCells' single-row array fold, which broadcasts the folded row —
  // a hint on the agg INPUT would just be dropped (with a warning)
  private[graft] def labelCodebook(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(labelCodebookPath(spark, dir))

  /** Nearest-cell assignment against a broadcast codebook — STATELESS: the
    * codebook is folded to a single array-of-(cell, centroid) row, cross
    * joined (broadcast, no exchange) onto the vector table, and the
    * argmax/top-nprobe is the native codegen'd
    * [[graft.functions.NearestCells]] loop per row — the same expression
    * d9 ([[graft.streaming.StreamOps.streamAssignCells]]) runs over a
    * plan-literal codebook. No shuffle: the
    * previous formulation ranked with a `row_number` window partitioned on
    * vec_id, an n×k exchange that at 100 TB inflates the corpus k-fold
    * through the wire for a value each row can compute locally.
    * Scores are 6-dp-ROUNDED before comparison — when two centroids are
    * nearly equidistant, a last-ulp disagreement between engines must not
    * flip the argmax — and ties break deterministically on LOWEST cell
    * (NearestCells' comparator: Double.compare on the rounded score, then
    * cell ascending; exactly the window's `ORDER BY ccos DESC, cell ASC`).
    * Emits `maxProbe` rows per vector: (vec_id, v, cell, ccos, arn). */
  private[graft] def assignCells(e: DataFrame, centroids: DataFrame,
                                 maxProbe: Int = Int.MaxValue): DataFrame = {
    val cbArr = broadcast(centroids.agg(
      sort_array(collect_list(struct(col("cell"), col("centroid")))).as("cb")))
    // native codegen'd top-maxProbe selection (NearestCells): k cosines +
    // the rank insertion fused into one generated loop — the HOF chain
    // (transform → array_sort → slice) computes the same thing but runs
    // interpreted per row with a BigDecimal-per-cell Round and a full
    // k-struct sort
    val top = graft.functions.VectorFunctions.nearestCells(
      col("v"), col("cb"), maxProbe)
    e.crossJoin(cbArr)
      .select(col("vec_id"), col("v"), posexplode(top).as(Seq("i", "s")))
      .select(col("vec_id"), col("v"),
        col("s.cell").as("cell"),
        col("s.ccos").as("ccos"),
        (col("i") + 1).as("arn"))
  }

  /** IVF search against a given broadcast (cell, centroid) codebook.
    * Assignment runs ONCE per side: the query side assigns only the
    * filtered (pushdown) query rows to their top-`nprobe` cells, the
    * candidate side assigns the corpus to its single nearest cell — so the
    * full corpus is scanned exactly once for assignment (the r6 plan
    * computed one shared assignment frame and, unpersisted, executed the
    * n×k pass twice). */
  private def ivfSearch(e: DataFrame, codebook: DataFrame,
                        k: Int, nprobe: Int): DataFrame = {
    // candidates live in exactly ONE cell (their nearest); queries probe
    // their top-`nprobe` cells — recall rises with nprobe while each
    // (query, candidate) pair still appears at most once
    val queries = assignCells(
      e.filter(col("vec_id") < 5), codebook, maxProbe = nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
    val candidates = assignCells(
      e.filter(col("vec_id") >= 5), codebook, maxProbe = 1)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    candidates.join(broadcast(queries), "cell")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cell"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy("query_id", "rnk")
  }

  def c18AnnIvf(spark: SparkSession, dir: String, k: Int = 5,
                nprobe: Int = 1): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    ivfSearch(e, labelCodebook(spark, dir), k, nprobe)
  }

  /** c18 searching a Lloyd-REFINED codebook ([[trainCodebook]]) instead of
    * the label-initialized one — the production IVF shape (train offline,
    * ship the artifact, search). Same plan as [[c18AnnIvf]]; recall vs the
    * c5 exact baseline is spec-checked to at least match the label
    * codebook at equal nprobe. */
  def c18AnnIvfTrained(spark: SparkSession, dir: String, k: Int = 5,
                       nprobe: Int = 1, rounds: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    ivfSearch(e, trainCodebook(spark, dir, rounds), k, nprobe)
  }

  /** c31: one exact Lloyd (k-means) iteration — the IVF codebook TRAINING
    * step that closes the loop on c15 (initial centroids) → c31 (refine)
    * → c18 (search). Assignment is [[assignCells]] against the broadcast
    * label-initialized codebook (one codegen'd pass over the corpus);
    * the update emits each cell's new centroid as exact fixed-point
    * numerator/denominator pairs (cell, pos, n_members, sum_v4) — all
    * BIGINTs, so the result is engine-exact and the update aggregation is
    * map-side combinable integer sums on a (cell, pos) key. Iterating =
    * feed sum_v4/n back as the next codebook (checkpointing each round,
    * the c19 CC seam); at 100 TB each round is one broadcast-assign pass
    * plus one narrow integer groupBy — no distance matrix, no all-pairs. */
  def c31KmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val assigned = assignCells(e, labelCodebook(spark, dir), maxProbe = 1)
      .select(col("vec_id"), col("cell"))
    val fixed = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        round(col("col").cast("double") * 10000).cast("bigint").as("v4"))
    fixed.join(assigned, "vec_id")
      .groupBy("cell", "pos")
      .agg(count(lit(1)).as("n_members"), sum(col("v4")).as("sum_v4"))
      .select(col("cell").cast("bigint").as("cell"),
        col("pos").cast("bigint").as("pos"),
        col("n_members"), col("sum_v4"))
      .orderBy("cell", "pos")
  }

  /** Deterministic k-cell codebook init for corpora without labels (or
    * with the production cell count ~√n rather than |labels|): seeds are
    * the k vectors with the smallest md5(vec_id) — a content-independent
    * uniform draw that any engine reproduces, no RNG state, no collect.
    * The seed selection is a TakeOrdered (per-partition top-k, driver
    * merge of k rows — never a full sort), and the k-row cell-numbering
    * window is over those k rows only. Feed to [[trainCodebook]] for
    * Lloyd refinement, then [[ivfSearch]]-style search. */
  def initCodebook(spark: SparkSession, dir: String, cells: Int): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val seeds = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("centroid"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy("h", "vec_id").limit(cells)
    val w = Window.orderBy("h", "vec_id") // k rows — a driver-sized window
    seeds.withColumn("cell", row_number().over(w) - 1)
      .select(col("cell"), col("centroid"))
  }

  /** IVF over a generic-k trained codebook: [[initCodebook]] seeds →
    * `rounds` Lloyd iterations → cell-equi-join search. The shape every
    * stage keeps at 100 TB: assignment is the stateless codegen'd
    * struct-argmax, training rounds are broadcast-assign + integer
    * groupBy, search touches ~n·nprobe/cells candidates per query.
    * Assignment work is O(cells) per row — fine up to ~10^4-10^5 cells
    * (a few ms/row of fused float math); beyond that
    * [[assignCellsTwoLevel]] is the O(√cells)-per-row coarse-quantized
    * form (two stateless argmax passes, still zero shuffles). */
  def annIvfGeneric(spark: SparkSession, dir: String, cells: Int,
                    k: Int = 5, nprobe: Int = 1, rounds: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    ivfSearch(e,
      trainCodebook(spark, dir, rounds, initCodebook(spark, dir, cells)),
      k, nprobe)
  }

  /** Two-level (coarse-quantized) cell assignment — the O(√k)-per-row
    * form of [[assignCells]] for very large codebooks: each row first
    * picks its nearest COARSE super-cell, then its nearest fine cell
    * WITHIN that super-cell's sub-codebook. Work per row drops from
    * O(|fine|) to O(|coarse| + |fine|/|coarse|) (minimized at
    * |coarse| = √|fine|); both passes are the same stateless codegen'd
    * [[graft.functions.NearestCells]] argmax against broadcast
    * artifacts — still ZERO shuffles. Approximate by construction: a row
    * whose true nearest fine cell lives under a different super-cell
    * mis-assigns (the standard hierarchical-quantization trade;
    * agreement vs flat assignment is spec-measured). Coarse cells that
    * attract no fine centroids are excluded from routing so every row
    * lands in a real sub-codebook. */
  def assignCellsTwoLevel(e: DataFrame, fine: DataFrame,
                          coarse: DataFrame): DataFrame = {
    // route each FINE centroid to its coarse super-cell (k-row job)
    val fineRouted = assignCells(
      fine.select(col("cell").as("vec_id"), toDouble(col("centroid")).as("v")),
      coarse, maxProbe = 1)
      .select(col("vec_id").as("fine_cell"), col("cell").as("super_cell"))
    // sub-codebook per super-cell, broadcast (same order of bytes as the
    // flat codebook — one (cell, centroid) entry per fine cell)
    val subCbs = broadcast(fineRouted
      .join(fine.select(col("cell").as("fine_cell"), col("centroid")), "fine_cell")
      .groupBy("super_cell")
      .agg(sort_array(collect_list(
        struct(col("fine_cell").as("cell"), col("centroid")))).as("cb")))
    // only coarse cells that own fine cells participate in row routing —
    // otherwise a row could land in a super-cell with no sub-codebook
    val coarseEff = coarse.join(
      fineRouted.select(col("super_cell").as("cell")).distinct(),
      Seq("cell"), "left_semi")
    val top = graft.functions.VectorFunctions.nearestCells(col("v"), col("cb"), 1)
    assignCells(e, coarseEff, maxProbe = 1)
      .select(col("vec_id"), col("v"), col("cell").as("super_cell"))
      .join(subCbs, "super_cell")
      .select(col("vec_id"), col("v"), posexplode(top).as(Seq("i", "s")))
      .select(col("vec_id"), col("v"),
        col("s.cell").as("cell"), col("s.ccos").as("ccos"))
  }

  /** Iterated Lloyd refinement over [[c31KmeansStep]]'s machinery: each
    * round is one broadcast-assign pass + one integer-sum update, the new
    * codebook is CHECKPOINTED to scratch parquet and read back (constant
    * plan depth across rounds — the c19 connected-components seam), and
    * the fixed-point table is materialized once and reused every round.
    * Cells that lose all members drop out (standard Lloyd behavior).
    * Returns the final (cell, centroid) codebook, broadcast-ready for
    * [[c18AnnIvf]]-style search or [[graft.streaming.StreamOps
    * .streamAssignCells]] routing. Cosine is scale-invariant in the
    * centroid, so assigning against the raw mean equals spherical
    * k-means assignment. */
  def trainCodebook(spark: SparkSession, dir: String, rounds: Int): DataFrame =
    trainCodebook(spark, dir, rounds, labelCodebook(spark, dir))

  /** [[trainCodebook]] from an arbitrary initial (cell, centroid) codebook
    * — [[initCodebook]] for the generic-k path, [[labelCodebook]] for the
    * label-celled gate path. */
  def trainCodebook(spark: SparkSession, dir: String, rounds: Int,
                    init: DataFrame): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // per-call run id: scratchDir CLEARS an existing path, so a reused
    // name would silently invalidate the lazy DataFrame a PREVIOUS call
    // returned (it reads these files on every action)
    val runId = trainRuns.incrementAndGet()
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val fixedPath = graft.GraftSession.scratchDir(
      s"kmeans-fixed-$runId-${graft.Memo.pathKey(dir)}").toString
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        round(col("col").cast("double") * 10000).cast("bigint").as("v4"))
      .write.mode("overwrite").parquet(fixedPath)
    val fixed = spark.read.parquet(fixedPath)
    var cb = init
    for (r <- 1 to rounds) {
      val assigned = assignCells(e, cb, maxProbe = 1)
        .select(col("vec_id"), col("cell"))
      val cbPath = graft.GraftSession.scratchDir(
        s"kmeans-cb-$runId-$r-${graft.Memo.pathKey(dir)}").toString
      fixed.join(assigned, "vec_id")
        .groupBy("cell", "pos")
        .agg(count(lit(1)).as("n"), sum(col("v4")).as("sum_v4"))
        .select(col("cell"), col("pos"),
          (col("sum_v4").cast("double") / 10000.0 / col("n")).as("cv"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("arr"))
        .select(col("cell"), col("arr.cv").as("centroid"))
        .write.mode("overwrite").parquet(cbPath)
      cb = spark.read.parquet(cbPath)
    }
    cb
  }

  /** c22: int8 scalar quantization of the embedding table — the storage
    * path for 100 TB-scale vector corpora (4× smaller than float32, and
    * int8 dot products are the SIMD-friendly ANN inner loop). Symmetric
    * quantization against the global max |v| (one broadcast 1-row
    * aggregate, never a collect): q = clamp(round(v·127/A), ±127). The
    * output audits the codec per vector: dimension count, saturated dims,
    * and the max absolute reconstruction error — max (unlike a mean) is
    * aggregation-order independent in doubles, so both engines agree
    * bit-for-bit. */
  def c22EmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("v"))
    val a = x.agg(max(abs(col("v"))).as("scale"))
    x.crossJoin(broadcast(a))
      .withColumn("qv",
        least(greatest(round(col("v") * 127 / col("scale"), 0), lit(-127.0)), lit(127.0)))
      .withColumn("err", abs(col("v") - col("qv") * col("scale") / 127))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dims"),
        sum(when(abs(col("qv")) === 127, 1L).otherwise(0L)).as("n_saturated"),
        round(max(col("err")), 6).as("max_abs_err_r"))
      .orderBy("vec_id")
  }

  /** Embedding width of the corpus — one bounded metadata probe (a
    * 1-row limit job, the same class of scalar action as the bloom
    * filter's sizing count). Memoized per data dir (r20, guide §1.2):
    * the width is schema-class metadata, and the eager 1-row job ran
    * on EVERY execution of every PQ/whiten consumer (c36/c38/c79/c47 —
    * one serialized job of pure latency per run). */
  private def embeddingDim(spark: SparkSession, dir: String): Int =
    graft.Memo.value("embedding-dim", Seq(dir)) {
      Tables.embeddings(spark, dir).select(size(col("embedding"))).head().getInt(0)
    }

  /** crossJoins `e` with one broadcast single-row fold PER SUBSPACE —
    * column `cb`j holds the codebook's j-th contiguous `subDim`-wide
    * slices as a sorted array of (cell, sc) structs. Broadcast 1-row
    * frames, so the joins plan as BroadcastNestedLoop over a single row:
    * no row of `e` ever moves. Shared by c36 (quantize) and c38 (ADC
    * search). */
  private def withSubCodebookFolds(e: DataFrame, cb: DataFrame,
                                   m: Int, subDim: Int): DataFrame = {
    val folded = (0 until m).map { j =>
      broadcast(cb
        .select(col("cell"), slice(col("centroid"), j * subDim + 1, subDim).as("sc"))
        .agg(sort_array(collect_list(struct(col("cell"), col("sc")))).as(s"cb$j")))
    }
    folded.foldLeft(e)((acc, f) => acc.crossJoin(f))
  }

  /** c36: product quantization — the OTHER standard embedding-compression
    * codec next to c22's scalar int8 (PQ is what IVF-PQ indexes ship at
    * billion-vector scale: M sub-codebooks of k entries each turn a
    * 64-float vector into M small codes, 64× smaller at M=4/k≤256).
    * The vector is split into M contiguous subspaces; each slice is
    * assigned to its nearest sub-centroid by the SAME codegen'd
    * [[graft.functions.NearestCells]] argmax c18/c31 use — the sub-
    * codebooks are broadcast single-row array folds of the label
    * codebook's slices, so the whole quantization is one stateless
    * projection over the corpus: zero row shuffles, O(M·k·dim/M) =
    * O(k·dim) work per vector. Scores are 6-dp-rounded with ties to the
    * lowest cell (identical to c18's contract), making the codes — and
    * hence the whole output — engine-exact. Emits one row per
    * (vec_id, subspace): the code and its rounded subspace cosine. */
  def c36PqQuantize(spark: SparkSession, dir: String, m: Int = 4): DataFrame = {
    val cb = labelCodebook(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val dim = embeddingDim(spark, dir)
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val subDim = dim / m
    val joined = withSubCodebookFolds(e, cb, m, subDim)
    val codes = array((0 until m).map { j =>
      element_at(graft.functions.VectorFunctions.nearestCells(
        slice(col("v"), j * subDim + 1, subDim), col(s"cb$j"), 1), 1)
    }: _*)
    joined
      .select(col("vec_id"), posexplode(codes).as(Seq("j", "s")))
      .select(col("vec_id"),
        col("j").cast("bigint").as("subspace"),
        col("s.cell").cast("bigint").as("code"),
        col("s.ccos").as("score_r"))
      .orderBy("vec_id", "subspace")
  }

  /** Appends each row's PQ reconstruction (`rv` — its M nearest
    * sub-centroids concatenated) to `e`, preserving every column of `e`
    * except the raw vector `v`. Quantize + centroid lookup + concat all
    * happen in one stateless projection over [[withSubCodebookFolds]]'
    * broadcasts. Shared by c38 (brute ADC) and [[ivfPqSearch]]. */
  private def pqReconstruct(e: DataFrame, cb: DataFrame,
                            m: Int, subDim: Int): DataFrame = {
    val keep = e.columns.filterNot(_ == "v").map(col).toSeq
    withSubCodebookFolds(e, cb, m, subDim)
      .select(keep ++ (0 until m).map(j => col(s"cb$j")) ++
        (0 until m).map { j =>
          element_at(graft.functions.VectorFunctions.nearestCells(
            slice(col("v"), j * subDim + 1, subDim), col(s"cb$j"), 1), 1)
            .getField("cell").as(s"code$j")
        }: _*)
      .select(keep :+
        flatten(array((0 until m).map { j =>
          element_at(filter(col(s"cb$j"),
            s => s.getField("cell") === col(s"code$j")), 1).getField("sc")
        }: _*)).as("rv"): _*)
  }

  /** c38: PQ (asymmetric-distance) search — top-k by cosine between the
    * FULL-precision query and each candidate's PQ RECONSTRUCTION (the
    * concatenation of its M nearest sub-centroids). This is the scoring
    * half of an IVF-PQ index: at billion scale the scan stores only the M
    * codes per vector (16× less than c22's int8, 64× less than float32)
    * and scores against the broadcast sub-codebooks — candidates' floats
    * never leave storage. Here quantization + reconstruction + scoring
    * fuse into one stateless candidate-side projection (the same
    * [[withSubCodebookFolds]] broadcast as c36 — codes via NearestCells,
    * slice lookup via a 10-entry array filter), so the only exchange in
    * the plan is the per-query top-k window c5 itself needs. Compose with
    * c18's cell restriction (both pieces exist) for the full IVF-PQ
    * pipeline; unrestricted ADC is kept here so recall measures the CODEC
    * alone. Ties (candidates sharing all M codes score identically by
    * construction) break on neighbor_id ascending in both engines. */
  def c38PqSearch(spark: SparkSession, dir: String,
                  k: Int = 5, m: Int = 4): DataFrame = {
    val cb = labelCodebook(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val dim = embeddingDim(spark, dir)
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val subDim = dim / m
    val candidates = pqReconstruct(e.filter(col("vec_id") >= 5), cb, m, subDim)
      .select(col("vec_id").as("neighbor_id"), col("rv"))
    val queries = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val w = Window.partitionBy("query_id").orderBy(desc("adc"), asc("neighbor_id"))
    candidates.crossJoin(queries)
      .withColumn("adc", cosine(col("qv"), col("rv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_r"))
      .orderBy("query_id", "rnk")
  }

  /** Full IVF-PQ search — c18's cell restriction composed with c38's ADC
    * scoring, THE billion-scale serving shape: candidates are pruned to
    * the query's top-`nprobe` IVF cells, then scored from their PQ
    * reconstructions only. At scale the candidate scan reads
    * (cell, M codes) per vector — full-precision floats exist only on the
    * (tiny) query side — and each query touches ~nprobe/cells of the
    * corpus. One pass assigns the candidate's cell (NearestCells argmax)
    * AND its PQ codes and reconstruction, all in the same stateless
    * projection; the search itself is a cell equi-join. With `nprobe` ≥
    * the cell count the cell restriction admits everything and the result
    * is EXACTLY [[c38PqSearch]] (spec-pinned). */
  def ivfPqSearch(spark: SparkSession, dir: String, k: Int = 5,
                  nprobe: Int = 1, m: Int = 4): DataFrame = {
    val cb = labelCodebook(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val dim = embeddingDim(spark, dir)
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val subDim = dim / m
    val candidates = pqReconstruct(
      assignCells(e.filter(col("vec_id") >= 5), cb, maxProbe = 1)
        .select(col("vec_id"), col("v"), col("cell")),
      cb, m, subDim)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("rv"))
    val queries = assignCells(e.filter(col("vec_id") < 5), cb, maxProbe = nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(desc("adc"), asc("neighbor_id"))
    candidates.join(broadcast(queries), "cell")
      .withColumn("adc", cosine(col("qv"), col("rv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cell"),
        round(col("adc"), 6).as("adc_r"))
      .orderBy("query_id", "rnk")
  }

  /** c79: exact re-rank — the second stage that completes the two-stage
    * retrieval story (quantized shortlist → exact re-score), the shape
    * every production vector-serving system runs because ADC's codec
    * error reorders close neighbors. Stage 1 is c38's ADC verbatim
    * (scores EVERY candidate from its PQ reconstruction — at billion
    * scale the scan reads M small ints per vector, no floats) kept to a
    * per-query SHORTLIST of `shortlist` ids; stage 2 fetches
    * full-precision vectors for the shortlist ONLY — a vec_id equi-join
    * with the (queries·shortlist)-row shortlist BROADCAST, so the corpus
    * is probed, never shuffled — and re-ranks by exact cosine, returning
    * top-`k`. Output carries both orders so the re-rank's correction is
    * visible: `rnk` (exact) next to `adc_rnk` (the stage-1 position it
    * overrode). With `shortlist` ≥ the candidate count stage 2 re-scores
    * everything and the result is EXACTLY c5's brute-force truth
    * (spec-pinned); ties break on neighbor_id ascending in both stages
    * and both engines. */
  def c79ExactRerank(spark: SparkSession, dir: String, k: Int = 5,
                     shortlist: Int = 20, m: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val sl = c38PqSearch(spark, dir, k = shortlist, m = m)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("adc_rnk"))
    val queries = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val w = Window.partitionBy("query_id").orderBy(desc("ex"), asc("neighbor_id"))
    e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .join(broadcast(sl), "neighbor_id")
      .join(queries, "query_id")
      .withColumn("ex", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("ex"), 6).as("exact_r"), col("adc_rnk"))
      .orderBy("query_id", "rnk")
  }

  // ---- at-rest IVF-PQ index (`Main index` / `Main query`): the
  // ---- artifacts a vector-serving system ships — coarse codebook +
  // ---- per-vector codes as parquet, NO raw floats in the index

  /** Build the at-rest IVF-PQ index of a candidate embedding frame:
    * returns (codebook, codes). `codebook` is the (cell, centroid)
    * label codebook trained on `codebookFrom` (default: the candidates
    * themselves; pass the full search universe to reproduce an existing
    * in-memory search exactly). `codes` is ONE row per candidate —
    * (vec_id, cell, codes): its nearest IVF cell and its M PQ codes,
    * derived by exactly the c18/c36 expressions (NearestCells argmax,
    * 6-dp rounding, lowest-cell ties). The codes table holds NO raw
    * floats: at scale the index is one small int per subspace plus the
    * cell — the 64× compression that lets a billion-vector index fit
    * where the float32 corpus cannot. Both frames are what
    * [[queryVectorIndex]] serves from, and both round-trip parquet
    * losslessly (ints only). */
  def buildVectorIndex(embs: DataFrame, m: Int = 4,
                       codebookFrom: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val cb = labelCodebookOf(codebookFrom.getOrElse(embs))
    (cb, quantizeAgainstCodebook(embs, cb, m))
  }

  /** Assign + PQ-quantize an embedding frame against a FROZEN codebook —
    * [[buildVectorIndex]]'s quantize phase as its own seam, which is
    * exactly what incremental indexing needs (`Main index --add`): new
    * vectors join an existing index by running ONLY this step against
    * the at-rest codebook artifact, no retrain, no touch of the already
    * -quantized corpus. Expressions are byte-identical to the full
    * build's (NearestCells argmax, lowest-cell ties), so add-then-query
    * ≡ rebuild-from-scratch under the same codebook — CLI-spec-pinned. */
  def quantizeAgainstCodebook(embs: DataFrame, cb: DataFrame,
                              m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val e = embs.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val probe = e.select(size(col("v"))).head(1)
    require(probe.nonEmpty, "cannot quantize an empty embedding frame")
    val dim = probe(0).getInt(0)
    val cbDim = cb.select(size(col("centroid"))).head().getInt(0)
    require(dim == cbDim,
      s"embedding dim $dim != codebook dim $cbDim — mismatched artifacts")
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    quantizeCore(e, cb, m, dim / m)
  }

  /** Probe-free quantize core over a (vec_id, v) frame — shared by the
    * batch path above and d33's STREAMING index add (a streaming frame
    * cannot be head()-probed; its dims validate against the static
    * codebook instead). Every subtree here is stream-safe: the cell
    * assignment and the M sub-codebook folds are broadcast cross joins
    * of 1-row static aggregates, the code argmax is the stateless
    * codegen'd NearestCells — zero state, zero stream-side shuffles. */
  private[graft] def quantizeCore(e: DataFrame, cb: DataFrame,
                                  m: Int, subDim: Int): DataFrame = {
    val assigned = assignCells(e, cb, maxProbe = 1)
      .select(col("vec_id"), col("v"), col("cell"))
    withSubCodebookFolds(assigned, cb, m, subDim)
      .select(col("vec_id"), col("cell"),
        array((0 until m).map { j =>
          element_at(graft.functions.VectorFunctions.nearestCells(
            slice(col("v"), j * subDim + 1, subDim), col(s"cb$j"), 1), 1)
            .getField("cell")
        }: _*).as("codes"))
  }

  /** Serve top-k ANN from at-rest [[buildVectorIndex]] artifacts: the
    * query side carries full-precision vectors (tiny — it is the query
    * set), the candidate side exists ONLY as (cell, codes) rows whose
    * reconstruction (each code's sub-centroid, concatenated) is looked
    * up row-locally from the broadcast sub-codebook folds. Queries
    * probe their top-`nprobe` cells; scoring is ADC cosine against the
    * reconstruction; ranks and rounding are exactly [[ivfPqSearch]]'s —
    * with the same codebook and candidate/query split the two are
    * row-identical (CLI-spec-pinned). Scale shape: one broadcast of the
    * codebook folds + queries, a cell equi-join against the codes scan,
    * a per-query top-k window over nprobe/cells of the corpus. */
  /** The (neighbor_id, cell, rv) candidate frame of an at-rest
    * (codebook, codes) index — each indexed vector's PQ reconstruction
    * keyed by its IVF cell, THE candidate side both the batch
    * [[queryVectorIndex]] and d39's streaming query scoring join
    * against (d29's shared-subtree rule). Mismatched --index artifacts
    * (codes against a DIFFERENT codebook) must fail loudly, not
    * mis-rank: a code id absent from its sub-codebook reconstructs a
    * null sc (filter+element_at miss → flatten nulls the whole rv), and
    * a cell id absent from the codebook would silently never be probed
    * — both are guarded here (the codebook is broadcast-sized, so the
    * membership join is free). Streaming callers must MATERIALIZE this
    * frame (d11/d25's rule) — at scale bucketed by cell. */
  private[graft] def reconstructCandidates(codebook: DataFrame,
                                           codes: DataFrame): DataFrame = {
    val mProbe = codes.select(size(col("codes"))).head(1)
    require(mProbe.nonEmpty, "cannot query an empty index")
    val m = mProbe(0).getInt(0)
    val dim = codebook.select(size(col("centroid"))).head().getInt(0)
    require(dim % m == 0, s"codebook dim $dim not divisible by m=$m")
    val subDim = dim / m
    withSubCodebookFolds(
      codes.select(col("vec_id"), col("cell"), col("codes")),
      codebook, m, subDim)
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        flatten(array((0 until m).map { j =>
          element_at(filter(col(s"cb$j"),
            s => s.getField("cell") === element_at(col("codes"), j + 1)), 1)
            .getField("sc")
        }: _*)).as("rv0"))
      .join(broadcast(codebook.select(col("cell"), lit(true).as("cb_ok"))),
        Seq("cell"), "left")
      .select(col("neighbor_id"), col("cell"),
        when(col("cb_ok").isNull || col("rv0").isNull
            || size(col("rv0")) =!= lit(dim),
          raise_error(concat(
            lit("queryVectorIndex: codes row (vec_id="), col("neighbor_id"),
            lit(", cell="), col("cell"),
            lit(") references a cell or PQ code absent from the supplied " +
              "codebook — mismatched index artifacts"))))
          .otherwise(col("rv0")).as("rv"))
  }

  def queryVectorIndex(queries: DataFrame, codebook: DataFrame,
                       codes: DataFrame, k: Int = 5,
                       nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cand = reconstructCandidates(codebook, codes)
    val q = assignCells(
      queries.select(col("vec_id"), toDouble(col("embedding")).as("v")),
      codebook, maxProbe = nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(desc("adc"), asc("neighbor_id"))
    cand.join(broadcast(q), "cell")
      .withColumn("adc", cosine(col("qv"), col("rv")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cell"),
        round(col("adc"), 6).as("adc_r"))
      .orderBy("query_id", "rnk")
  }

  /** Memoized nearest-cell assignment of the FULL corpus (maxProbe=1)
    * against the label codebook, checkpointed to scratch parquet per data
    * dir (the [[labelCodebookPath]] seam). c43 consumes the same
    * assignment frame on three plan branches (both sides of the intra-cell
    * self-join plus the verdict output); without the seam each branch
    * re-runs the corpus-wide assignment pass. */
  private[graft] def assignedTablePath(spark: SparkSession, dir: String): String =
    graft.Memo.table("cell-assign", Seq(dir)) { p =>
      assignCells(
        Tables.embeddingsFanned(spark, dir)
          .select(col("vec_id"), toDouble(col("embedding")).as("v")),
        labelCodebook(spark, dir), maxProbe = 1)
        .select(col("vec_id"), col("v"), col("cell"), col("ccos"))
        .write.parquet(p)
    }

  /** c43: semantic dedup — the SemDeDup pipeline shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then hunt
    * near-duplicates ONLY within a cluster, keeping per duplicate pair the
    * member FARTHEST from its centroid (the paper's keep-low-similarity
    * rule: centroids summarize their cluster, so the far member carries
    * more marginal information). Assignment is the c18 machinery — a
    * broadcast codebook and the stateless codegen'd argmax, memoized so
    * the corpus is assigned once, not once per plan branch — and
    * duplicate detection is an equi-join on the cell id, so all-pairs work
    * is confined to one cell's members (the 100 TB contract: cell count
    * scales with corpus size, pair work stays (n/cells)² per cell, and
    * there is NO corpus-wide pairwise stage). The keep rule is pairwise
    * dominance — a vector drops iff SOME above-threshold cell-mate has
    * strictly lower rounded centroid-similarity (ties to the lower
    * vec_id) — which needs no transitive grouping; feeding the pairs
    * through c19's connected-components machinery upgrades it to
    * group-level dedup when transitivity matters. Both the pair score and
    * the centroid similarity compare 6-dp-ROUNDED (the engine-parity
    * contract every similarity op here follows).
    * Emits one verdict row per vector: (vec_id, cell, cent_r, keep). */
  def c43SemanticDedup(spark: SparkSession, dir: String,
                       threshold: Double = 0.35): DataFrame =
    dominanceVerdicts(
      spark.read.parquet(assignedTablePath(spark, dir)), threshold)

  /** The c43 dominance pass over an already-assigned (vec_id, v, cell,
    * ccos) frame. The frame feeds three plan branches — MATERIALIZE it
    * (the c43 memo, a persist, or a checkpoint) or the assignment
    * subtree executes three times.
    * Zero-norm vectors (real pipelines carry them: padding, failed
    * encodes) make cosine NaN, and Spark compares NaN as LARGER than
    * everything — unguarded, `NaN >= threshold` is true and a zero
    * vector would be dropped as a "duplicate" of its whole cell. The
    * isnan guard keeps non-comparable pairs out of the hunt entirely:
    * zero-norm vectors pass through keep=true (with NaN cent_r), and
    * can never dominate a finite one. */
  private[graft] def dominanceVerdicts(a: DataFrame,
                                       threshold: Double): DataFrame = {
    val rhs = a.select(col("cell"), col("vec_id").as("r_id"),
      col("v").as("rv"), col("ccos").as("r_ccos"))
    // nanvl folds the NaN guard into ONE reference to the O(dim) cosine
    // (a two-conjunct filter would codegen the cosine loop twice on the
    // quadratic pair hunt): NaN maps to -Inf, which no threshold admits
    val pairCos = nanvl(round(cosine(col("v"), col("rv")), 6),
      lit(Double.NegativeInfinity))
    val dropped = a.join(rhs, "cell")
      .filter(col("vec_id") =!= col("r_id"))
      .filter(pairCos >= threshold)
      .filter(col("r_ccos") < col("ccos") ||
        (col("r_ccos") === col("ccos") && col("r_id") < col("vec_id")))
      .select("vec_id").distinct()
    a.join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("ccos").as("cent_r"),
        col("hit").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** Label-initialized codebook over an ARBITRARY (embedding, label)
    * frame — the [[labelCodebookPath]] aggregation, generalized for the
    * library/CLI surface (semdedup over any embeddings parquet). */
  def labelCodebookOf(embs: DataFrame): DataFrame =
    embs
      .select(col("label"), posexplode(toDouble(col("embedding"))))
      .select(col("label"), col("pos"),
        round(col("col") * 10000).cast("bigint").as("v4"))
      .groupBy("label", "pos")
      .agg(sum(col("v4")).as("sum_v4"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sum_v4").cast("double") / 10000.0 / col("n")).as("cv"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("arr"))
      .select(col("label").as("cell"), col("arr.cv").as("centroid"))

  /** c45: per-dimension embedding moments — the dataset card for an
    * embedding column (c32's role for vectors): n, mean, variance, min,
    * max per dimension, the inputs to whitening / normalization /
    * drift monitoring. All aggregation runs on FIXED-POINT integers
    * (c15's 1e-4 contract): integer sums are partial-aggregation-order
    * independent and engine-exact, and the derived 6-dp mean/variance
    * are EXACT INTEGER half-away divisions over those sums (the c80
    * rule, r19) — no float round anywhere, identical on any engine.
    * One posexplode + one map-side-combinable groupBy on a dim key whose
    * domain is the embedding width — state is O(dim), never O(corpus). */
  /** The fixed-point moment sums over an arbitrary embedding frame —
    * shared by batch c45 and streaming d15 (the d12/c35
    * shared-verdict-logic rule: twins must share their core so they
    * cannot drift). sum_sq4 accumulates in DECIMAL(38,0): v4² terms
    * reach 1.6×10⁹, so an int64 sum wraps near 5.7×10⁹ vectors — real
    * corpus scale, and d15's running state only ever grows — and
    * Spark's non-ANSI integer sum wraps SILENTLY; the decimal sum is
    * exact to ~10²⁹ vectors and fails loudly (null) beyond. sum_v4
    * stays BIGINT: |v4| ≤ 4×10⁴ wraps only past ~2×10¹⁴ vectors. */
  private[graft] def fixedPointMoments(vecs: DataFrame): DataFrame =
    vecs
      .select(posexplode(col("embedding").cast("array<double>")))
      .select(col("pos"),
        round(col("col") * 10000).cast("bigint").as("v4"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("v4")).as("sum_v4"),
        // cast BEFORE multiplying: an int64 PRODUCT of huge rogue inputs
        // (|x|~1e6 → v4²~1e20) would wrap silently and the decimal sum
        // would faithfully accumulate the garbage term
        sum(col("v4").cast("decimal(38,0)") * col("v4")).as("sum_sq4"),
        min(col("v4")).as("min_v4"), max(col("v4")).as("max_v4"))

  def c45EmbedMoments(spark: SparkSession, dir: String): DataFrame = {
    // 6-dp renders by EXACT INTEGER half-away division (r19 — the c80
    // rule applied here after the one GenData-corpus oracle diff:
    // round(double, 6) lands on engine-dependent ULP ties under a
    // different summation order, where intRound(sum·100/n)/1e6 is
    // engine-exact). mean6 stays in BIGINT (200·|sum_v4| ≤ 8e6·n —
    // wraps only past ~10¹² vectors); var6 runs in DECIMAL(38,0)
    // (n·sum_sq4 ≤ 1.6e9·n² needs >int64 at real corpus scale) with
    // num = n·Σx₄² − (Σx₄)² ≥ 0 by Cauchy-Schwarz, so the positive
    // div branch alone is exact (truncate ≡ floor on non-negatives).
    val mean6 = when(col("sum_v4") >= 0L,
        expr("(200*sum_v4 + n) div (2*n)"))
      .otherwise(-expr("(200*(-sum_v4) + n) div (2*n)"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    fixedPointMoments(Tables.embeddings(spark, dir))
      .withColumn("__vnum", dec(col("n")) * col("sum_sq4") -
        dec(col("sum_v4")) * dec(col("sum_v4")))
      .withColumn("__vden", dec(lit(100L)) * dec(col("n")) * dec(col("n")))
      .withColumn("__var6", expr("(2*__vnum + __vden) div (2*__vden)"))
      // the exact square sum travels as a STRING of the decimal: a
      // decimal column reaches pandas as object on one engine and
      // float64 on the other (hash mismatch), and a double would lose
      // exactness past 2^53; digits-as-text is exact at any scale and
      // renders identically everywhere
      .select(col("pos"), col("n"), col("sum_v4"),
        col("sum_sq4").cast("string").as("sum_sq4"),
        col("min_v4"), col("max_v4"),
        (mean6.cast("double") / 1e6).as("mean_r"),
        (col("__var6").cast("double") / 1e6).as("var_r"))
      .orderBy("pos")
  }

  /** c46: one power-iteration step — the distributed building block of
    * PCA / spectral embedding analysis: given a fixed start direction
    * v₀ (the ±1 dim-parity vector — trivially regenerable by any
    * engine), compute X'Xv₀ in one pass: per row the scalar s=⟨x,v₀⟩,
    * then each row contributes x·s to the output direction. On
    * fixed-point integer coordinates every per-row product is an exact
    * BIGINT (|x₄|≲4·10⁴, |s|≲64·4·10⁴, row terms ≲10¹¹); the per-dim
    * SUM accumulates in DECIMAL(38,0) — 10¹¹-sized terms would wrap an
    * int64 silently near 10⁸ rows, real corpus scale — keeping the
    * unnormalized direction engine-exact to ~10²⁷ rows (and failing
    * loudly, as null, beyond);
    * iterating (feeding the result back, c31's trainCodebook shape)
    * converges to the top principal direction. Normalization uses the
    * MAX-|component| scalar — order-independent and exact, where an L2
    * norm would sum 64 doubles in engine-dependent order — as a
    * broadcast 1-row aggregate (c16's corpus-scalar seam, never a
    * collect). Map-side combinable groupBy on the dim key: O(dim)
    * state, one corpus pass, no shuffle wider than the dim domain. */
  /** One X'Xv corpus pass, shared by c46 (v = the ±1 parity start) and
    * [[powerIterate]]'s rounds (v = the current integer artifact) — the
    * twins-share-core rule. Stage x4, then the per-row scalar s=⟨x₄,v⟩
    * built by `sOf` FROM THE STAGED column, in their own projections:
    * the HOFs run interpreted, and an expression referenced from inside
    * a lambda is re-evaluated PER ELEMENT — unstaged, the s-chain
    * (itself a full array pass) runs 64× per row (the d11 staging
    * lesson; measured 4.4 s → ~0.4 s at sf0.1). Multiply AFTER the
    * explode (scalar column math is codegen'd) with the decimal cast
    * BEFORE the multiply (the fixedPointMoments overflow rule). */
  private def powerNumerator(vecs: DataFrame,
                             sOf: Column => Column): DataFrame =
    vecs
      .select(transform(toDouble(col("embedding")),
        x => round(x * 10000).cast("bigint")).as("x4"))
      .select(col("x4"), sOf(col("x4")).as("s"))
      .select(col("s"), posexplode(col("x4")))
      .groupBy("pos")
      .agg(sum(col("col").cast("decimal(38,0)") * col("s")).as("num"))

  def c46PowerIter(spark: SparkSession, dir: String): DataFrame = {
    val num = powerNumerator(Tables.embeddings(spark, dir),
      x4 => aggregate(
        transform(x4, (x, i) => when(i % 2 === 0, x).otherwise(-x)),
        lit(0L), (acc, x) => acc + x))
    val scale = num.agg(max(abs(col("num"))).as("max_abs"))
    num.crossJoin(broadcast(scale))
      // num travels as digits-as-text (c45's sum_sq4 rule: exact at any
      // scale, renders identically in every engine); r derives from the
      // numeric decimal before the stringify
      // 6-dp render by exact signed half-away division (r19, the c45
      // rule; abs/negate keeps the floor-vs-truncate div seam out)
      .withColumn("__r6",
        expr("(2000000*abs(num) + max_abs) div (2*max_abs)"))
      .select(col("pos"), col("num").cast("string").as("num"),
        ((when(col("num") < 0, -col("__r6")).otherwise(col("__r6")))
          .cast("double") / 1e6).as("r"))
      .orderBy("pos")
  }

  /** c47: embedding whitening — apply c45's per-dimension moments to
    * z-normalize every vector ((x − mean)/σ per dim): the standard
    * preprocessing before similarity/clustering when dimensions carry
    * unequal scales, and the consumer that closes c45's loop (compute
    * moments → whiten → feed c5/c18/c31). The moments fold to ONE
    * broadcast row of (pos, mean, σ) structs (the assignCells codebook
    * pattern), so normalization is row-local array math with ZERO
    * corpus exchanges — the oracle must join per (vec_id, pos); the
    * Spark plan provably never shuffles the corpus (plan spec; the only
    * exchanges are the dim-keyed moment aggregate and the gate
    * ordering). σ derives from c45's exact integer sums, so both
    * engines compute bit-identical doubles; z is 6-dp-rounded. Emits
    * the long form (vec_id, pos, z_r) — parquet-friendly, and exactly
    * what a training loader or the moments monitor re-assembles.
    * Degenerate dims (σ=0) would emit ±Inf/NaN — absent here; a
    * production caller clamps σ with a floor. */
  /** The whitening projection, shared by batch c47 and streaming d16:
    * each vector `v` zipped with the per-dim (mean, sd) structs `ms`,
    * emitted in the long form (vec_id, pos, z_r). One change to the
    * rounding scale or a future σ floor lands on both sides at once. */
  private[graft] def whitenLong(frame: DataFrame, v: Column, ms: Column): DataFrame =
    frame
      .select(col("vec_id"), posexplode(zip_with(v, ms,
        (x, s) => round((x - s.getField("mean")) / s.getField("sd"), 6))))
      .select(col("vec_id"), col("pos"), col("col").as("z_r"))

  /** Whitening over an ARBITRARY (vec_id, embedding) frame — the
    * library/CLI entry c47 wraps (no total ordering: that is gate
    * determinism, not a library concern — a production write keeps the
    * scan partitioning). */
  def whitenEmbeddings(embs: DataFrame): DataFrame = {
    val mean = col("sum_v4").cast("double") / 10000.0 / col("n")
    val m = fixedPointMoments(embs)
      .select(col("pos"), mean.as("mean"),
        sqrt(col("sum_sq4").cast("double") / 1e8 / col("n") - mean * mean)
          .as("sd"))
    val stats = broadcast(m.agg(
      sort_array(collect_list(struct(col("pos"), col("mean"), col("sd"))))
        .as("ms")))
    whitenLong(embs
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .crossJoin(stats), col("v"), col("ms"))
  }

  def c47Whiten(spark: SparkSession, dir: String): DataFrame =
    whitenEmbeddings(Tables.embeddings(spark, dir))
      .orderBy("vec_id", "pos")

  /** Iterated power method — c46's step driven to convergence (the
    * training-loop shape trainCodebook established: each round
    * re-broadcasts a BOUNDED integer model artifact and makes one
    * corpus pass; the collect is dim-sized, never corpus-sized). The
    * direction renormalizes every round onto an exact ±10⁴-unit integer
    * grid (max-|component| maps to exactly ±10⁴, HALF_UP in BigDecimal)
    * so each round's input is engine- and partitioning-exact — no
    * float drift can accumulate across rounds. Per-round integer
    * bounds: x₄·v terms ≤ 4×10⁸, s ≤ 2.6×10¹⁰ (exact int64 per row);
    * the per-dim contribution sums run in DECIMAL(38,0) (the c46
    * rule). Returns the final direction as (pos, v4) — the artifact a
    * PCA-projection pass or d16-style serving path ships. */
  def powerIterate(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val dim = embeddingDim(spark, dir)
    var v: IndexedSeq[Long] =
      (0 until dim).map(i => if (i % 2 == 0) 10000L else -10000L)
    for (_ <- 1 to rounds) {
      val vl = typedLit(v)
      val num = powerNumerator(Tables.embeddings(spark, dir),
        x4 => aggregate(zip_with(x4, vl, (x, w) => x * w),
          lit(0L), (acc, x) => acc + x))
        .collect()
        .map(r => r.getAs[Int]("pos") -> r.getAs[java.math.BigDecimal]("num"))
        .toMap
      require(num.nonEmpty, s"embeddings at $dir are empty — nothing to iterate")
      val maxAbs = num.values.map(_.abs).reduce((a, b) =>
        if (a.compareTo(b) >= 0) a else b)
      // an all-zero corpus (or a direction orthogonal to every vector)
      // yields a zero numerator — fail with a message, not a division
      // ArithmeticException from the renormalization
      require(maxAbs.signum != 0,
        "power iteration degenerated: every contribution sum is zero " +
          "(all-zero corpus, or the direction is orthogonal to every vector)")
      v = (0 until dim).map { p =>
        num(p).multiply(java.math.BigDecimal.valueOf(10000L))
          .divide(maxAbs, 0, java.math.RoundingMode.HALF_UP).longValueExact()
      }
    }
    import spark.implicits._
    v.zipWithIndex.map { case (w, p) => (p, w) }.toDF("pos", "v4")
  }

  /** Exact fixed-point Gram matrix G = X₄'X₄ of an embedding frame, as a
    * dim×dim driver array — the ONE corpus pass behind [[pcaComponentsOn]].
    * Per row the dim² pairwise products are exact longs (|x₄|≲4·10⁴ ⇒
    * products ≲1.6·10⁹); the per-cell sums accumulate in DECIMAL(38,0)
    * (the c46 overflow rule), so the collected matrix is a pure function
    * of the data — partitioning- and engine-exact at any corpus size.
    * Map-side combinable groupBy on the dim² key domain (4096 cells for
    * 64-dim): O(dim²) state, one scan, no corpus shuffle. */
  /** Widest embedding [[gramMatrix]] will cross: 256² = 65,536 exploded
    * cells per row is the practical ceiling before the explode dominates
    * the scan; past it the matrix-free [[powerIterate]] is the path. */
  val GramMaxDim = 256

  private[graft] def gramMatrix(embs: DataFrame): Array[Array[Double]] = {
    // head(1), not first(): the emptiness require below must be the error
    // an empty corpus produces, not first()'s 'next on empty iterator'
    val probe = embs.select(size(col("embedding"))).head(1)
    require(probe.nonEmpty && !probe(0).isNullAt(0),
      "embeddings are empty — no Gram matrix")
    val dim = probe(0).getInt(0)
    // the per-row explode is dim² elements (4096 at the gate's 64-dim —
    // fine; 10⁶ at 1024-dim — a 16,000× row blowup before the combine).
    // Guard loudly: wide embeddings belong on the matrix-free power
    // iteration, whose per-row cost is O(dim) per round.
    require(dim <= GramMaxDim,
      s"gramMatrix explodes dim² = ${dim.toLong * dim} cells per row; " +
        s"dim $dim > $GramMaxDim — use powerIterate (c46's matrix-free " +
        "path) for wide embeddings")
    val cells = embs
      .select(transform(toDouble(col("embedding")),
        x => round(x * 10000).cast("bigint")).as("x4"))
      .select(posexplode(flatten(
        transform(col("x4"), xi => transform(col("x4"), xj => xi * xj)))))
      .groupBy("pos")
      .agg(sum(col("col").cast("decimal(38,0)")).as("g"))
      .collect()
    require(cells.nonEmpty, "embeddings are empty — no Gram matrix")
    val g = Array.ofDim[Double](dim, dim)
    cells.foreach { r =>
      val pos = r.getAs[Int]("pos")
      // exact decimal → double is a deterministic function of the exact
      // value, so every partitioning yields the bit-identical matrix
      g(pos / dim)(pos % dim) = r.getAs[java.math.BigDecimal]("g").doubleValue
    }
    g
  }

  /** Top-k principal directions via Hotelling DEFLATION over the exact
    * Gram matrix: ONE corpus pass builds G = X'X ([[gramMatrix]] —
    * embedding dims are small, so the matrix is driver-sized), then each
    * component power-iterates G driver-side with projection onto the
    * orthogonal complement of the components already found. Driver
    * iterations are free, so convergence no longer depends on corpus
    * passes — the matrix-free [[powerIterate]] row (c46) stays as the
    * streaming-friendly alternative for dims too wide to cross. The
    * whole artifact is a deterministic pure function of the data: G is
    * partitioning-exact, and the driver loop is fixed-order IEEE
    * arithmetic. Returns k directions on the ±10⁴ integer grid
    * (HALF_UP), the same broadcast-artifact form powerIterate ships. */
  def pcaComponentsOn(embs: DataFrame, k: Int,
                      rounds: Int): Seq[IndexedSeq[Long]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val g = gramMatrix(embs)
    val dim = g.length
    require(k <= dim, s"k=$k exceeds the embedding dim $dim")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def deflate(x: Array[Double], basis: Seq[Array[Double]]): Array[Double] = {
      var v = x
      basis.foreach { u =>
        val c = dot(v, u) / dot(u, u)
        v = Array.tabulate(dim)(i => v(i) - c * u(i))
      }
      v
    }
    val found = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (c <- 0 until k) {
      var v = deflate(Array.tabulate(dim)(i =>
        if ((i + c) % 2 == 0) 1.0 else -1.0), found.toSeq)
      for (_ <- 1 to rounds) {
        val w = Array.tabulate(dim)(i => dot(g(i), v))
        val x = deflate(w, found.toSeq)
        val nx = math.sqrt(dot(x, x))
        val nw = math.sqrt(dot(w, w))
        // a RELATIVE collapse, not an exact zero: on a rank-deficient
        // corpus the deflated residual is float noise (~1e-16 of ||w||),
        // never exactly 0 — iterating it would return deterministic
        // garbage presented as a component
        require(nw > 0 && nx > 1e-6 * nw,
          "PCA deflation degenerated: the direction lies entirely in the " +
            "span already found (rank-deficient corpus, or k > rank)")
        v = x.map(_ / nx)
      }
      found += v
    }
    found.toSeq.map { v =>
      val maxAbs = v.map(math.abs).max
      require(maxAbs > 0, "PCA produced a zero direction")
      v.map(x => new java.math.BigDecimal(x * 10000.0 / maxAbs)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
        .toIndexedSeq
    }
  }

  /** c54's fixed parameterization: k components; driver iterations per
    * component (driver-side on the dim×dim Gram, so 512 rounds cost
    * microseconds and converge through the ~0.93 eigen-gap of a
    * near-isotropic corpus, where a corpus-pass-per-round budget
    * could not). */
  val C54K = 2
  val C54Rounds = 512

  /** Memoized per (dir, k, rounds): the c54 query and its oracle
    * rendering (which inlines the components as SQL literals) must train
    * once per JVM and see identical directions. */
  def pcaComponents(spark: SparkSession, dir: String, k: Int = C54K,
                    rounds: Int = C54Rounds): Seq[IndexedSeq[Long]] =
    graft.Memo.value("pca", Seq(dir), k, rounds) {
      pcaComponentsOn(Tables.embeddings(spark, dir), k, rounds)
    }

  /** c54: PCA projection — every embedding projected onto the k learned
    * principal directions (the dimensionality-reduction pass a training
    * pipeline ships after [[pcaComponentsOn]]): p_c = ⟨x₄, u_c⟩ as the
    * EXACT integer (the caller divides by 10⁸ for the real-valued
    * coordinate). Exact-integer output, not a 6-dp rounding: p/10⁸ is an
    * exact 8-digit decimal, so ~1% of values land exactly on the .xx50
    * rounding boundary where engines' double-rounding tie rules diverge
    * (measured at sf0.1) — the other `_r` columns round NON-terminating
    * doubles, where ties have measure zero. The components fold to plan
    * literals (the c47 broadcast-moments shape taken one step further —
    * the artifact is dim-sized, so it inlines), projection is row-local
    * array math with ZERO corpus exchanges before the gate ordering;
    * every dot product is integer-valued ≤ 2¹⁵·10⁴·dim ≪ 2⁵³, hence
    * exact in both engines regardless of summation order. */
  def c54PcaProject(spark: SparkSession, dir: String): DataFrame = {
    val comps = pcaComponents(spark, dir)
    val proj = comps.zipWithIndex.map { case (u, i) =>
      aggregate(zip_with(col("x4"), typedLit(u), (x, w) => x * w),
        lit(0L), (acc, x) => acc + x).as(s"p$i")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(toDouble(col("embedding")),
        x => round(x * 10000).cast("bigint")).as("x4"))
      .select(col("vec_id") +: proj: _*)
      .orderBy("vec_id")
  }

  /** Scale-adaptive LSH plane count: enough sign bits that the EXPECTED
    * bucket population stays near `targetBucket` rows, so the within-bucket
    * pair join does O(n·targetBucket) work — linear in n — instead of the
    * O(n²/2^planes) a FIXED plane count degenerates to as the corpus grows
    * (64 buckets over 10⁹ rows ⇒ 1.5×10⁷-row buckets ⇒ quadratic blowup).
    * Floor of 6 keeps small/test corpora on the historical bucketing.
    *
    * Cap of 40 (2⁴⁰ ≈ 10¹² buckets) — NOT a key-cardinality bound: the
    * bucket key is only ever hashed into a shuffle (never enumerated or
    * held as aggregate state), so its cardinality costs nothing; the
    * per-row cost is `planes` dot products (40×64 multiplies, trivial).
    * 40 planes keep the expected bucket ≤ targetBucket out to
    * n = 512·2⁴⁰ ≈ 5.6×10¹⁴ rows — ~100 PB of 64-dim float32 vectors,
    * three orders past the 100 TB design point (a 100 TB corpus,
    * ~4×10¹¹ rows, lands at 30 planes). The REAL large-n trade-off is
    * recall, not cost: one band of p planes collides θ-near pairs with
    * probability (1−θ/π)^p, so past ~30 planes a production near-dup
    * pass should switch to banded repetitions (c2's MinHash banding
    * shape) or c43's cell-confined SemDeDup — this single-band form is
    * the gate-deterministic building block. Deterministic in n, so the
    * DuckDB oracle derives the identical count from the same parquet
    * footer. */
  private[graft] def adaptivePlanes(n: Long, targetBucket: Int = 512): Int = {
    val needed = math.ceil(math.log(math.max(1L, n).toDouble / targetBucket)
      / math.log(2.0)).toInt
    math.min(40, math.max(6, needed))
  }

  /** c11: embedding-cosine near-duplicate pairs, LSH-bucketed: all-pairs
    * scoring happens only within a bucket (the 100 TB-safe shape — the
    * alternative is an O(n²) cross join). The threshold is applied to the
    * 6-decimal rounding of the score so engines agree at the boundary.
    * `planes <= 0` (the default) sizes the bucketing from the corpus row
    * count via [[adaptivePlanes]] — a parquet-footer read, no data scan. */
  def c11EmbedNearDup(spark: SparkSession, dir: String,
                      threshold: Double = 0.3, planes: Int = 0): DataFrame = {
    val p =
      if (planes > 0) planes
      else adaptivePlanes(Tables.parquetRowCount(s"$dir/embeddings.parquet"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"),
        signBucket(col("embedding"), p).as("bucket"))
    e.select(col("bucket"), col("vec_id").as("vec_a"), col("v").as("va"))
      .join(e.select(col("bucket"), col("vec_id").as("vec_b"), col("v").as("vb")),
        "bucket")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine_r", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine_r") >= threshold)
      .select("vec_a", "vec_b", "cosine_r")
      .orderBy("vec_a", "vec_b")
  }

  /** c71's banding geometry: bands of planes-per-band sign bits, each
    * band seeded independently ("graft:band$b"). Recall of a pair at
    * angle θ is 1 − (1 − (1−θ/π)^r)^bands — the OR over bands buys back
    * what a single r-plane band loses (c2's AND/OR MinHash shape over
    * c6's hyperplanes). Defaults measured on the gate corpus: r = 4,
    * bands = 24 recovers ≥ 0.9 of the exact ≥ 0.3-cosine pairs where
    * single-band c11 at 6 planes collides only ~5% (BandedNearDupSpec
    * measures it against the brute-force truth). At scale r grows like
    * [[adaptivePlanes]] to keep each band's buckets bounded and `bands`
    * grows to hold recall — both knobs explicit because the right
    * setting is threshold-dependent (at cosine ≥ 0.95, θ ≈ 18°, r = 30
    * and bands = 60 give ~0.92 recall; at the gate's 0.3 only small r
    * is viable).
    *
    * Selectivity regime, measured (r12, sf0.1): at θ ≈ 72° the per-bit
    * near/random separation is only 0.597 vs 0.5, so ANY hyperplane
    * geometry holding recall ≥ 0.9 must accept most random pairs too —
    * this configuration admits ~78% of all pairs on the isotropic gate
    * embeddings (1.55M distinct candidates of 2M possible at n = 2000),
    * i.e. near-all-pairs cost. That is the S-curve's physics, not a
    * defect: at production thresholds the same geometry is sharply
    * selective (cosine ≥ 0.95 with r = 30: p_near ≈ 4.2% per band vs
    * p_random ≈ 9×10⁻¹⁰ — candidates ≈ true pairs only). Low-threshold
    * sweeps belong on the exact evaluator; the banding exists for the
    * high-threshold dedup regime a production near-dup pass runs in. */
  val C71Bands = 24
  val C71PlanesPerBand = 4

  /** The per-band bucket ARRAY of an embedding column — ONE expression
    * shared by c71's at-rest pair hunt, the d32 arrival side and the
    * [[bandedIndexOf]] artifact builder (the d29/streamDupStarts rule:
    * the ingest path must share the at-rest hash subtree by
    * construction, not merely by parity test). */
  private[graft] def bandBuckets(emb: Column, bands: Int,
                                 planesPerBand: Int): Column =
    array((0 until bands).map { b =>
      VectorFunctions.hyperplaneBucket(emb,
        VectorFunctions.lshPlanes(planesPerBand, EmbeddingDim,
          seed = s"graft:band$b"))
    }: _*)

  /** The at-rest (band, bucket, vec_id, v) banding index of an embedding
    * frame — what d32's ingest probe joins (built by `Main neardup
    * --index`). Attaches the full-precision vector (d11's trade: a
    * fatter bounded artifact buys ZERO stream state — the exact-cosine
    * verify becomes row-local on the joined row); at scale the table is
    * written bucketed by (band, bucket) so the per-micro-batch join is
    * co-located (the `Stress bucketed` measurement). */
  def bandedIndexOf(embs: DataFrame, bands: Int = C71Bands,
                    planesPerBand: Int = C71PlanesPerBand): DataFrame =
    embs.select(col("vec_id"), toDouble(col("embedding")).as("v"),
        bandBuckets(col("embedding"), bands, planesPerBand).as("bks"))
      .select(col("vec_id"), col("v"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("vec_id"), col("v"))

  /** Multi-band hyperplane LSH near-duplicate pairs over an arbitrary
    * (vec_id, embedding) frame — c11's production-recall upgrade. A pair
    * is a candidate iff it collides in ANY band (the OR); exact cosine
    * verifies candidates, so banding affects RECALL only, never
    * precision. Scale shape: per-band buckets are a (band, bucket)
    * equi-join — never all-pairs; the OR is a distinct over candidate
    * id-pairs (16-byte-ish keys, no vectors); vectors join back only for
    * the verify, by vec_id. Work is O(n · bands · bucketPop), linear in
    * n when r tracks corpus size. */
  def bandedNearDupOn(embs: DataFrame, threshold: Double,
                      bands: Int = C71Bands,
                      planesPerBand: Int = C71PlanesPerBand): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(planesPerBand >= 1,
      s"planesPerBand must be >= 1, got $planesPerBand")
    val bk = embs.select(col("vec_id"),
      posexplode(bandBuckets(col("embedding"), bands, planesPerBand))
        .as(Seq("band", "bucket")))
    val cand = bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val v = embs.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .withColumn("cosine_r", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine_r") >= threshold)
      .select("vec_a", "vec_b", "cosine_r")
      .orderBy("vec_a", "vec_b")
  }

  /** c71: banded embedding near-dup over the corpus at c11's threshold —
    * same output contract as c11 (vec_a < vec_b, 6-dp rounded cosine,
    * exact verify), far higher recall (the banding note above). The
    * DuckDB oracle re-derives every band's bucket from the SAME seeded
    * integer plane matrices inlined at render time (lshBucketSql's
    * exactness argument: integer-valued dot products ≪ 2^53). */
  /** Per-JVM memoized banded-pair table (the shingleTablePath rule): the
    * full find-candidates→verify subtree feeds BOTH c71 (the pair
    * report) and c72 (the recall eval) in any Verify/Bench run —
    * materialized once per (dir, threshold), each consumer scans a
    * small parquet. */
  private[graft] def bandedPairsTablePath(spark: SparkSession, dir: String,
                                          threshold: Double): String =
    graft.Memo.table("banded-pairs", Seq(dir), threshold) { p =>
      bandedNearDupOn(Tables.embeddingsFanned(spark, dir), threshold).write.parquet(p)
    }

  def c71NearDupBanded(spark: SparkSession, dir: String,
                       threshold: Double = 0.3): DataFrame =
    spark.read.parquet(bandedPairsTablePath(spark, dir, threshold))
      .orderBy("vec_a", "vec_b")

  /** Ceiling on the frame an exact all-pairs truth may expand (r15:
    * "eval corpus/sample, never the production path" is now a runtime
    * refusal, not a comment). 100k rows ⇒ ≤ 5×10⁹ candidate pairs — an
    * eval-sized cost; a corpus pointed here by accident refuses before
    * the cross join is even planned. */
  private[graft] val ExactPairsRowCap = 100000L

  /** Exact ≥-threshold pair TRUTH over an embedding frame — the
    * all-pairs baseline c72 measures recall against. Deliberately
    * quadratic: this is an EVAL operator and runs on the (sampled)
    * frame it is given, never corpus-wide at scale (c58's rule — the
    * sampling lives in the caller's frame definition); the row-cap
    * require enforces that contract at runtime. */
  private[graft] def exactPairsOn(embs: DataFrame,
                                  threshold: Double): DataFrame = {
    // limit(cap+1) bounds the guard's own cost by the cap (r16, ADVICE:
    // a full count() paid a complete scan of an over-cap corpus just to
    // refuse it) — cap+1 rows decide over/under without counting the rest
    val n = embs.limit((ExactPairsRowCap + 1).toInt).count()
    require(n <= ExactPairsRowCap,
      s"exact pair truth is quadratic and eval-confined: frame has more " +
        s"than cap $ExactPairsRowCap rows — point it at an eval sample, " +
        "never a production corpus (c72's rule)")
    val v = embs.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    v.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .crossJoin(v.select(col("vec_id").as("vec_b"), col("v").as("vb")))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine_r", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine_r") >= threshold)
      .select("vec_a", "vec_b", "cosine_r")
  }

  /** c72: near-dup RECALL evaluation — the measurement c71's banding is
    * tuned against, as a queryable one-row table (c58's eval-as-operator
    * rule, applied to pair recall): exact ≥-threshold pair count, banded
    * pair count, their intersection, and recall = hits / exact. Banded
    * precision is exact by construction (every candidate re-scores), so
    * n_banded ≡ n_hit and the single interesting number is recall — but
    * all four are emitted so a broken verify would surface as
    * n_banded ≠ n_hit rather than hide inside one ratio. The oracle
    * re-derives BOTH sides in SQL (the c71 band union + a cross-join
    * truth), so the measurement itself is engine-verified. */
  def c72NearDupRecall(spark: SparkSession, dir: String,
                       threshold: Double = 0.3): DataFrame = {
    val exact = exactPairsOn(Tables.embeddingsFanned(spark, dir), threshold)
      .select("vec_a", "vec_b")
    val banded = spark.read
      .parquet(bandedPairsTablePath(spark, dir, threshold))
      .select("vec_a", "vec_b")
    exact.withColumn("e", lit(1)).withColumn("b", lit(0))
      .unionByName(banded.withColumn("e", lit(0)).withColumn("b", lit(1)))
      .groupBy("vec_a", "vec_b")
      .agg(max(col("e")).as("e"), max(col("b")).as("b"))
      .agg(sum(col("e")).cast("bigint").as("n_exact"),
        sum(col("b")).cast("bigint").as("n_banded"),
        sum(col("e") * col("b")).cast("bigint").as("n_hit"))
      .transform(TextOps.ratio6On(_, "recall_r",
        col("n_hit"), col("n_exact")))
  }

  // ---- ANN index evaluation (c58): the recall dashboard a production
  // ---- pipeline tunes its LSH planes / IVF nprobe against

  /** c58: ANN recall@k evaluation — per query, how many of the exact
    * brute-force top-k (c5, the ground truth) each approximate index
    * recovers: c6's hyperplane LSH and c18's IVF. This is the EVAL
    * operator the index-tuning loop monitors (raise planes/nprobe until
    * recall clears the bar); the c18-trained spec checks one property,
    * this emits the measurement itself as a queryable table.
    *
    * Scale shape: all three inputs are top-k frames — k·|queries| rows
    * by construction — so the hit joins and per-query folds never touch
    * corpus-sized data (the expensive part is the three searches, each
    * already audited in its own right); recall is one double division of
    * exact counts. At 100 TB an eval runs over a query SAMPLE; that
    * sampling lives in the query-set definition (vec_id < 5 here), not
    * in this operator's shape. */
  def c58AnnRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // flag-union, not three joins against `truth`: a join formulation
    // references the c5 brute-force subtree once per consumer and the
    // differing join keys defeat exchange reuse, so the expensive exact
    // scan would execute up to 3×. Tagging each search's pairs and
    // folding flags runs every search EXACTLY once — one (q, n) shuffle,
    // one q shuffle, both over k-bounded frames.
    def tagged(df: DataFrame, t: Int, l: Int, i: Int): DataFrame =
      df.select(col("query_id"), col("neighbor_id"),
        lit(t).as("t"), lit(l).as("l"), lit(i).as("i"))
    tagged(c5AnnBrute(spark, dir, k), 1, 0, 0)
      .unionByName(tagged(c6AnnLsh(spark, dir, k), 0, 1, 0))
      .unionByName(tagged(c18AnnIvf(spark, dir, k), 0, 0, 1))
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("t")).as("t"), max(col("l")).as("l"), max(col("i")).as("i"))
      .groupBy("query_id")
      .agg(sum(col("t")).as("n_truth"),
        sum(col("t") * col("l")).as("lsh_hits"),
        sum(col("t") * col("i")).as("ivf_hits"))
      // truth-anchored by construction: a query_id seen only by an
      // approximate search (n_truth = 0 ⇒ null/NaN recall) must not emit
      // a row, because the oracle derives its row set from the truth side
      .filter(col("n_truth") > 0)
      .transform(TextOps.ratio6On(_, "lsh_recall_r",
        col("lsh_hits"), col("n_truth")))
      .transform(TextOps.ratio6On(_, "ivf_recall_r",
        col("ivf_hits"), col("n_truth")))
      .orderBy("query_id")
  }
}
