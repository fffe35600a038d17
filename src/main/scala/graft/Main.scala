package graft

import scala.util.chaining._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ipc.ArrowIpc
import graft.operators.SeqColumn
import graft.sources.JsonConvert
import graft.streaming.{FilePublisher, StreamPipeline}

/** CLI mirroring bolson's surface (reference: src/bolson/cli.cpp — the
  * `stream` and `bench` subcommands with --max-rows / --max-ipc /
  * --arrow-seq-col): a user of the reference points the same ND-JSON
  * socket feed at `graft stream` and gets the same bounded Arrow IPC
  * messages, published here to a directory (one standalone .arrow file
  * per message) instead of a Pulsar topic.
  *
  * Usage:
  *   graft.Main stream --host H --port P --out DIR
  *     [--schema battery|trip] [--schema-ddl "col TYPE, ..."]
  *     [--max-rows N] [--max-ipc BYTES] [--codec none|lz4|zstd]
  *     [--seq-col] [--idle-timeout-ms T] [--no-strict]
  *     — the parse is strict by default: a top-level field outside the
  *       schema fails the run, as in bolson. --no-strict ignores such
  *       fields; it saves nothing measurable, since both modes run one
  *       schema-compiled converter that checks each key as it reads it
  *       (14,400 trip_report lines read from 24 text files on 4 cores,
  *       quartiles of 10 interleaved runs: 0.19–0.23 task core-s strict
  *       against 0.20–0.22 relaxed)
  *     — or RESTARTABLE file mode (r12): --in-dir DIR --checkpoint CKPT
  *       in place of --host/--port: drains every unprocessed ND-JSON
  *       file under DIR (Trigger.AvailableNow) and exits; re-running
  *       with the same checkpoint picks up ONLY new files, and with
  *       --seq-col the seq column resumes contiguously from the
  *       already-published output (recovered by decoding OUT's .arrow
  *       files and --batch's .arrowbag envelopes — the at-rest truth,
  *       not driver state, survives the restart; contiguity assumes the
  *       prior run exited cleanly — a mid-batch crash replays with
  *       monotone but possibly gapped seqs, see the recovery comment)
  *     [--batch] [--batch-max-messages N] [--batch-max-bytes B]
  *     [--batch-max-delay MS]   (≙ bolson --pulsar-batch*)
  *     [--latency FILE] [--metrics FILE]   (≙ bolson -l / --metrics:
  *       per-batch latency samples / per-stage totals and the run's
  *       codegen_compiles and codegen_compile_ms, dumped as JSON on
  *       shutdown — reference:
  *       src/bolson/cli.cpp:62-66,92-94, latency.h)
  *   graft.Main bench     (delegates to graft.Bench)
  *   graft.Main verify SF_DIR OUT_DIR   (delegates to graft.Verify)
  */
object Main {

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** JSON string literal of a user-controlled value (paths on the stats
    * lines): backslash, quote and control chars escaped — a Windows-ish
    * path or a quote in --out must not break the one-JSON-line
    * contract. (vocab's top-term escape, shared.) */
  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case ch if ch < 0x20 => sb.append(f"\\u${ch.toInt}%04x")
      case ch => sb.append(ch)
    }
    sb.append('"').toString
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("bench") => Bench.main(args.drop(1))
    case Some("verify") => Verify.main(args.drop(1))
    case Some("stream") => stream(args.drop(1))
    case Some("dedup") => dedup(args.drop(1))
    case Some("decontam") => decontam(args.drop(1))
    case Some("curate") => curate(args.drop(1))
    case Some("vocab") => vocab(args.drop(1))
    case Some("ingest") => ingest(args.drop(1))
    case Some("chunk") => chunk(args.drop(1))
    case Some("shard") => shard(args.drop(1))
    case Some("semdedup") => semdedup(args.drop(1))
    case Some("whiten") => whiten(args.drop(1))
    case Some("diff") => diffCmd(args.drop(1))
    case Some("moments") => moments(args.drop(1))
    case Some("codec") => codec(args.drop(1))
    case Some("search") => search(args.drop(1))
    case Some("fingerprint") => fingerprint(args.drop(1))
    case Some("card") => card(args.drop(1))
    case Some("spans") => spans(args.drop(1))
    case Some("score") => score(args.drop(1))
    case Some("neardup") => neardup(args.drop(1))
    case Some("plan") => planCmd(args.drop(1))
    case Some("scrub") => scrub(args.drop(1))
    case Some("index") => indexCmd(args.drop(1))
    case Some("query") => queryCmd(args.drop(1))
    case Some("select") => selectCmd(args.drop(1))
    case Some("contain") => contain(args.drop(1))
    case Some("phash") => phashCmd(args.drop(1))
    case Some("curriculum") => curriculum(args.drop(1))
    case Some("bpe-train") => bpeTrain(args.drop(1))
    case Some("unigram-train") => unigramTrain(args.drop(1))
    case Some("wordpiece-train") => wordpieceTrain(args.drop(1))
    case Some("tokenize") => tokenize(args.drop(1))
    case Some("cluster-update") => clusterUpdate(args.drop(1))
    case Some("domains") => domainsCmd(args.drop(1))
    case Some("sketch") => sketchCmd(args.drop(1))
    case Some("joint") => jointCmd(args.drop(1))
    case Some("recipe") => recipeCmd(args.drop(1))
    case Some("publish") => publishCmd(args.drop(1))
    case Some("extract") => extractCmd(args.drop(1))
    case Some("pipeline") => pipelineCmd(args.drop(1))
    case _ =>
      System.err.println(
        "usage: graft.Main stream|bench|verify|dedup|decontam|curate|vocab|" +
          "ingest|chunk|shard|semdedup|whiten|diff|moments|codec|search|" +
          "fingerprint|card|spans|score|neardup|plan|scrub|index|query|" +
          "select|contain|phash|curriculum|bpe-train|unigram-train|" +
          "wordpiece-train|tokenize|cluster-update|domains|sketch|joint|" +
          "recipe|publish|extract|pipeline ...")
      sys.exit(2)
  }

  /** `graft.Main extract --in PARQUET --out OUT [--col html]
    * [--min-words N] [--encoding-flags]` — the WET stage (SURVEY §2
    * c117): HTML→text extraction with the line-density boilerplate rule
    * and malformed-markup refusal, over any parquet with a markup
    * column. With `--encoding-flags` the c118 validity battery runs on
    * the extracted text in the same pass (counts + ok + repaired).
    * One JSON stats line: docs in/out, refusals, (flagged). */
  private def extractCmd(args: Array[String]): Unit = {
    import graft.operators.Extract
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val colName = opt(args, "--col").getOrElse("html")
    val minWords = opt(args, "--min-words").map(_.toInt).getOrElse(4)
    val flags = args.contains("--encoding-flags")
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(docs.columns.contains(colName),
      s"input $in must have a '$colName' column, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val extracted = Extract.htmlExtractOn(docs, colName, minWords)
    val result =
      if (flags) Extract.encodingFlagOn(extracted, "extracted")
      else extracted
    result.write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val nIn = docs.count()
    val refused = written.filter(!col("well_formed")).count()
    // flagged key present ONLY when the battery ran (the train verbs'
    // conditional-export rule): a -1 sentinel misreads as a count in any
    // consumer that sums or thresholds it (r20 ADVICE)
    val flaggedPart =
      if (flags) s""""flagged":${written.filter(!col("ok")).count()},"""
      else ""
    println(s"""{"docs_in":$nIn,"docs_out":${written.count()},""" +
      s""""refused":$refused,$flaggedPart""" +
      s""""min_words":$minWords,"out":${jsonStr(out)}}""")
  }

  /** `graft.Main pipeline --in PARQUET --out DIR [--col html]
    * [--min-words N] [--near-dup] [--threshold T] [--shard-prefix P]` —
    * the COMPOSED crawl release flow (SURVEY §2 c119) as ONE command,
    * bolson's single-binary client→converter→publisher loop shape
    * (reference: src/bolson/stream.cpp:117-190) applied to raw web
    * data: extract (c117) → encoding validity + repair (c118) →
    * quality battery (c35) → exact dedup (md5 canonical) →
    * optional near-dup cluster canonical keep (c2/c19's banded
    * machinery at --threshold) → deterministic shard assignment (c40)
    * → released docs + c112 shard manifest.
    *
    * Writes OUT/released.parquet (doc_id, text, shard),
    * OUT/manifest.parquet (c112 digests, verifiable by
    * `Main shard --verify`) and prints one JSON stats line with each
    * stage's exit counts — the per-stage attrition a release owner
    * reads first.
    *
    * Every intermediate with more than one consumer exists once:
    *  - the c119 verdict table, cached for the run (the stats fold, the
    *    survivors' shingles and the released rows read it);
    *  - the survivors' shingle table, hash-partitioned on doc_id at the
    *    session shuffle width before shingling (explicit N: AQE would
    *    coalesce the small, CPU-bound signature aggregate to one task)
    *    and cached inside c2 for the signature pass and both verify
    *    sides; c2 materialises its pairs and drops that cache itself;
    *  - the cluster labels, checkpointed by connected components: the
    *    drop set and the `near_dups` count read them;
    *  - the written manifest: one aggregate over it gives `released`
    *    and `shards`.
    * The verdict cache is dropped in `finally`, so a failed run leaves no
    * cached blocks behind in a long-lived JVM. */
  private def pipelineCmd(args: Array[String]): Unit = {
    import graft.operators.{Dedup, Extract, TextOps}
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val colName = opt(args, "--col").getOrElse("html")
    val minWords = opt(args, "--min-words").map(_.toInt).getOrElse(4)
    val nearDup = args.contains("--near-dup")
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.5)
    val prefixLen = opt(args, "--shard-prefix").map(_.toInt).getOrElse(1)
    val spark = GraftSession.get()
    val raw = spark.read.parquet(in)
    require(raw.columns.contains(colName),
      s"input $in must have a '$colName' column, " +
        s"found ${raw.columns.mkString("(", ", ", ")")}")
    val staged = Extract.crawlPipelineStaged(raw, colName, minWords)
      .select("doc_id", "well_formed", "enc_ok", "q_keep", "is_dup", "kept",
        "repaired")
      .persist()
    try {
      val stats = staged.agg(
        count(lit(1)).as("n_in"),
        sum(when(!col("well_formed"), 1L).otherwise(0L)).as("refused"),
        sum(when(col("well_formed") && !col("enc_ok"), 1L).otherwise(0L))
          .as("enc_flagged"),
        sum(when(col("well_formed") && col("enc_ok") && !col("q_keep"), 1L)
          .otherwise(0L)).as("q_dropped"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("exact_dups")).head()
      val keptDocs = staged.filter(col("kept"))
        .select(col("doc_id"), col("repaired").as("text"))
      // near-dup stage: c2's banded minhash pairs over the survivors'
      // OWN shingle table (never the corpus-dir memoized one — the
      // released text differs from the raw corpus), c19's CC labels,
      // min-id canonical keeps
      val (released0, nNear) =
        if (!nearDup) (keptDocs, 0L)
        else {
          val sh = Dedup.shingleRows(keptDocs.repartition(
            spark.sessionState.conf.numShufflePartitions, col("doc_id")))
          val edges = Dedup.c2DedupMinhash(spark, in, shingleTable = Some(sh))
            .filter(col("jaccard") >= threshold)
            .select(col("doc_a").as("u"), col("doc_b").as("v"))
          val dropIds = Dedup.connectedComponentsAlternating(edges)._1
            .filter(col("node") =!= col("cluster_id"))
            .select(col("node").as("doc_id"))
          (keptDocs.join(dropIds, Seq("doc_id"), "left_anti"), dropIds.count())
        }
      TextOps.shuffleShard(released0, prefixLen)
        .select("doc_id", "text", "shard")
        .write.mode("overwrite").parquet(s"$out/released.parquet")
      val written = spark.read.parquet(s"$out/released.parquet")
      TextOps.shardManifestOn(written.select("doc_id", "text"), prefixLen)
        .write.mode("overwrite").parquet(s"$out/manifest.parquet")
      val shipped = spark.read.parquet(s"$out/manifest.parquet")
        .agg(coalesce(sum(col("n_docs")), lit(0L)), count(lit(1))).head()
      println(s"""{"docs_in":${stats.getAs[Long]("n_in")},""" +
        s""""refused":${stats.getAs[Long]("refused")},""" +
        s""""enc_flagged":${stats.getAs[Long]("enc_flagged")},""" +
        s""""q_dropped":${stats.getAs[Long]("q_dropped")},""" +
        s""""exact_dups":${stats.getAs[Long]("exact_dups")},""" +
        s""""near_dups":$nNear,"released":${shipped.getLong(0)},""" +
        s""""shards":${shipped.getLong(1)},"out":${jsonStr(out)}}""")
    } finally { staged.unpersist(); () }
  }

  /** `graft.Main domains --in PARQUET --out OUT [--cap K]
    * [--block d1,d2,...]` — the per-domain curation surface (SURVEY §2
    * c96/c97) over any (doc_id, url, text) parquet with REAL URLs:
    * without `--cap`, writes the per-domain report (doc count, token
    * mass, corpus share, blocklist verdict — what a corpus owner
    * reviews); with `--cap K`, writes the capped survivor list (at most
    * K docs per registrable domain, best-first by quality score — the
    * C4/RefinedWeb anti-dominance stage). One JSON stats line. */
  private def domainsCmd(args: Array[String]): Unit = {
    import graft.operators.Curation
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val cap = opt(args, "--cap").map(_.toInt)
    val block = opt(args, "--block")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Curation.DefaultBlocklist)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "url", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, url, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    cap match {
      case Some(k) =>
        Curation.domainCapOn(docs, k).write.mode("overwrite").parquet(out)
        val stats = spark.read.parquet(out)
          .agg(count(lit(1)), count_distinct(col("domain"))).head()
        println(s"""{"kept":${stats.getLong(0)},"domains":${stats.getLong(1)},""" +
          s""""cap":$k,"out":${jsonStr(out)}}""")
      case None =>
        Curation.domainStatsOn(docs, block).write.mode("overwrite").parquet(out)
        val stats = spark.read.parquet(out)
          .agg(count(lit(1)),
            count(when(col("is_blocked"), lit(1)))).head()
        println(s"""{"domains":${stats.getLong(0)},"blocked":${stats.getLong(1)},""" +
          s""""out":${jsonStr(out)}}""")
    }
  }

  /** `graft.Main sketch --in PARQUET --out GRID` — fold a (doc_id,
    * text) corpus into the at-rest CMS counter grid (SURVEY §2 c100's
    * pass 1 as an artifact step): writes the (i, b, c) counter table —
    * d·w rows regardless of corpus size, the sketch file d48's ingest
    * twin probes. `--estimate --grid GRID` instead reads a previously
    * written grid and emits (doc_id, token, est_cnt) for each doc's
    * distinct tokens — the batch run of exactly d48's projection (the
    * shared estimateOf expression; CLI-spec-pinned). One JSON line. */
  /** Read + LOUDLY validate an at-rest CMS grid parquet: (i, b, c)
    * columns with integer i/c of any width (a grid written by another
    * engine may carry bigint — r17 ADVICE) and string b. */
  private def validatedGrid(spark: org.apache.spark.sql.SparkSession,
                            gridPath: String): org.apache.spark.sql.DataFrame = {
    val gf = spark.read.parquet(gridPath)
    require(Seq("i", "b", "c").forall(gf.columns.contains),
      s"grid $gridPath must have (i, b, c) columns, " +
        s"found ${gf.columns.mkString("(", ", ", ")")}")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    gf.schema.fields.foreach { f =>
      if (Set("i", "c")(f.name))
        require(integral(f.dataType),
          s"grid $gridPath column ${f.name} must be an integer type, " +
            s"found ${f.dataType.simpleString}")
      if (f.name == "b")
        require(f.dataType == StringType,
          s"grid $gridPath column b must be string, " +
            s"found ${f.dataType.simpleString}")
    }
    // GEOMETRY check (r17 review): a grid built at a different depth /
    // width / bucket encoding would merge or estimate silently into
    // UNDERESTIMATES (missing cells read 0 — the min would break the
    // CMS one-sided law). Refuse loudly instead.
    val badGeom = gf.filter(
      col("i").cast("long") < 0 ||
        col("i").cast("long") >= graft.operators.Sketch.CmsDepth ||
        !col("b").rlike("^[0-9a-f]{2}$")).limit(1).collect()
    require(badGeom.isEmpty,
      s"grid $gridPath cell (i=${badGeom.headOption.map(_.get(0)).orNull}, " +
        s"b=${badGeom.headOption.map(_.getAs[String]("b")).orNull}) is outside " +
        s"this engine's ${graft.operators.Sketch.CmsDepth}x" +
        s"${graft.operators.Sketch.CmsWidth} two-hex-char geometry — " +
        "grids from a different CMS configuration cannot merge or estimate here")
    gf
  }

  /** `graft.Main joint --in SF_DIR --out DIR` — the c107 JOINT
    * text+media dedup verdict over a corpus directory: per
    * both-modality doc its text cluster (c19), media cluster (c102),
    * per-modality droppable flags, and the either-verdict, plus one
    * JSON manifest line with the QUADRANT counts — the numbers a
    * pipeline owner reads before choosing a drop rule (a large
    * text_only/media_only disagreement quadrant is exactly the case
    * where dropping on one signal over- or under-deletes). */
  private def jointCmd(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    graft.operators.Multimodal.c107JointDedup(spark, in)
      .write.mode("overwrite").parquet(out)
    val w = spark.read.parquet(out)
    val q = w.groupBy("dup_by_text", "dup_by_media").count().collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    def g(t: Boolean, m: Boolean) = q.getOrElse((t, m), 0L)
    println(s"""{"docs":${q.values.sum},"text_only":${g(true, false)},""" +
      s""""media_only":${g(false, true)},"both":${g(true, true)},""" +
      s""""clean":${g(false, false)},"out":${jsonStr(out)}}""")
  }

  /** `graft.Main recipe --in SF_DIR --out DIR` — the c110 data-recipe
    * plan over a corpus directory: per-source quality-weighted
    * epoch/budget allocation, written as the plan table plus one JSON
    * manifest line (total budget, the most- and least-epoched
    * sources) — what a pipeline owner reviews before a run. */
  private def recipeCmd(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    graft.operators.TextOps.c110DataRecipe(spark, in)
      .write.mode("overwrite").parquet(out)
    val rows = spark.read.parquet(out)
      .select("source", "planned_tokens", "epochs_r").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // tie-break equal epoch ratios by source name: maxBy/minBy on the
    // ratio alone would resolve ties by parquet read-back row order,
    // making the manifest line nondeterministic across runs (r17 ADVICE)
    val top = rows.maxBy(r => (r._3, r._1))
    val bottom = rows.minBy(r => (r._3, r._1))
    println(s"""{"sources":${rows.length},""" +
      s""""budget_tokens":${rows.map(_._2).sum},""" +
      s""""max_epochs":{"source":${jsonStr(top._1)},"epochs":${top._3}},""" +
      s""""min_epochs":{"source":${jsonStr(bottom._1)},"epochs":${bottom._3}},""" +
      s""""out":${jsonStr(out)}}""")
  }

  /** `graft.Main publish --in SF_DIR --out DIR [--shards L]
    * [--pack-budget B]` — the ONE-VERB dataset publisher (r18): chains
    * the oracled release stages — recipe planning (c110) →
    * deterministic sampling (c111's copy projection, kept docs =
    * n_copies ≥ 1) → FFD packing (c76) → sharding (c40) → per-shard
    * release manifests (c112) — writing each stage's table under OUT
    * (plan/ shards/ packs/ manifest/) plus ONE combined JSON manifest
    * line with the release-level order-invariant digest (the fold of
    * the per-shard digest sums mod 2⁶¹−1 — still order-invariant,
    * still map-side combinable). Every stage is the SAME library call
    * its gate row runs (CliSpec pins the composition ≡ the
    * components), so the one-verb path cannot drift from the verified
    * operators. */
  private def publishCmd(args: Array[String]): Unit = {
    import graft.operators.TextOps
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val shardLen = opt(args, "--shards").map(_.toInt).getOrElse(1)
    require(shardLen >= 1 && shardLen <= 8,
      s"--shards is the shard-key HEX PREFIX LENGTH (16^L shards: " +
        s"1→16, 2→256, ...), must be in [1, 8], got $shardLen")
    val packBudget = opt(args, "--pack-budget").map(_.toLong).getOrElse(2048L)
    require(packBudget > 0, s"--pack-budget must be positive, got $packBudget")
    val spark = GraftSession.get()
    // stage 1 — the plan (c110): bounded per-source table, written for
    // review; its collected form drives the sampling projection
    TextOps.c110DataRecipe(spark, in).write.mode("overwrite")
      .parquet(s"$out/plan")
    val planRows = TextOps.recipePlanOf(spark, in)
    val budget = spark.read.parquet(s"$out/plan")
      .agg(sum(col("planned_tokens"))).head.getLong(0)
    // stage 2 — deterministic sampling (c111): the run's readable set =
    // docs with at least one planned copy; n_copies rides along as the
    // loader's repeat count. ONE row-local projection — text carried
    // through the shared d51 projection (r18: no doc_id join-back)
    val docs = Tables.documents(spark, in)
    val sampled = TextOps.recipeCopies(docs, planRows, Seq("text"))
      .filter(col("n_copies") >= 1)
      .select("doc_id", "source", "text", "n_copies")
      .persist()
    // stage 3 — sharding (c40) over the sampled set, n_copies carried
    TextOps.shuffleShard(sampled, shardLen)
      .write.mode("overwrite").parquet(s"$out/shards")
    // stage 4 — FFD packing (c76) of the sampled docs
    TextOps.packFfdOn(sampled.select("doc_id", "text"), packBudget)
      .write.mode("overwrite").parquet(s"$out/packs")
    // stage 5 — the per-shard release manifest (c112), same prefix
    TextOps.shardManifestOn(sampled.select("doc_id", "text"), shardLen)
      .write.mode("overwrite").parquet(s"$out/manifest")
    val m = spark.read.parquet(s"$out/manifest")
    // fold the per-shard digests in decimal(38,0): 16⁸ shards × 2⁶¹
    // would overflow a bigint accumulator (the c112 headroom rule)
    val agg = m.agg(count(lit(1)), sum(col("n_docs")), sum(col("n_tokens")),
      expr(s"cast(sum(cast(digest1 as decimal(38,0))) % " +
        s"${TextOps.DigestMod}L as bigint)"),
      expr(s"cast(sum(cast(digest2 as decimal(38,0))) % " +
        s"${TextOps.DigestMod}L as bigint)")).head
    val copies = sampled.agg(sum(col("n_copies"))).head.getLong(0)
    val nPacks = spark.read.parquet(s"$out/packs")
      .select("shard", "pack_id").distinct().count()
    sampled.unpersist()
    println(s"""{"sources":${planRows.length},"budget_tokens":$budget,""" +
      s""""sampled_docs":${agg.getLong(1)},"total_copies":$copies,""" +
      s""""n_tokens":${agg.getLong(2)},"shards":${agg.getLong(0)},""" +
      s""""packs":$nPacks,"pack_budget":$packBudget,""" +
      s""""digest1":${agg.getLong(3)},"digest2":${agg.getLong(4)},""" +
      s""""out":${jsonStr(out)}}""")
  }

  private def sketchCmd(args: Array[String]): Unit = {
    import graft.operators.Sketch
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    import spark.implicits._
    if (args.contains("--merge")) {
      // `sketch --merge --grid-a A --grid-b B --out O` (r17): the CMS's
      // defining property is MERGEABILITY — counter grids from disjoint
      // corpus partitions (or separate crawls) sum element-wise into
      // exactly the grid of the union, because every cell is a plain
      // sum over the stream (CLI-spec'd: merge(grid(A), grid(B)) ≡
      // grid(A ∪ B), integer-exact). Missing cells read 0 (estimateOf's
      // untouched-counter rule) via the full outer join.
      val pa = opt(args, "--grid-a").getOrElse(sys.error("--grid-a required with --merge"))
      val pb = opt(args, "--grid-b").getOrElse(sys.error("--grid-b required with --merge"))
      val a = validatedGrid(spark, pa)
        .select(col("i").cast("int").as("i"), col("b"),
          col("c").cast("bigint").as("ca"))
      val b = validatedGrid(spark, pb)
        .select(col("i").cast("int").as("i"), col("b"),
          col("c").cast("bigint").as("cb"))
      val merged = a.join(b, Seq("i", "b"), "full_outer")
        .select(col("i"), col("b"),
          (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L))).as("c"))
        .orderBy("i", "b")
      merged.coalesce(1).write.mode("overwrite").parquet(out)
      val cells = spark.read.parquet(out).count()
      println(s"""{"cells":$cells,"merged":[${jsonStr(pa)},${jsonStr(pb)}],""" +
        s""""out":${jsonStr(out)}}""")
      return
    }
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    if (args.contains("--estimate")) {
      val gridPath = opt(args, "--grid")
        .getOrElse(sys.error("--grid required with --estimate"))
      val gf = validatedGrid(spark, gridPath)
      val grid = gf.collect()
        .map(r => s"${r.getAs[Number]("i").intValue()}:${r.getAs[String]("b")}" ->
          r.getAs[Number]("c").longValue()).toMap
      Sketch.cmsEstimate(docs.select("doc_id", "text"), grid)
        .write.mode("overwrite").parquet(out)
      val stats = spark.read.parquet(out)
        .agg(count(lit(1)), coalesce(max(col("est_cnt")), lit(0L))).head()
      println(s"""{"rows":${stats.getLong(0)},"max_est":${stats.getLong(1)},""" +
        s""""out":${jsonStr(out)}}""")
    } else {
      // THE shared word-type convention (TextOps.wordTypeCounts — r17
      // ADVICE: no inline re-derivation that could drift from the gates)
      val wt = graft.operators.TextOps.wordTypeCounts(docs)
      val grid = Sketch.counterGrid(wt)
      grid.toSeq.sortBy(_._1)
        .map { case (k, c) =>
          val Array(i, b) = k.split(":", 2); (i.toInt, b, c) }
        .toDF("i", "b", "c")
        .coalesce(1).write.mode("overwrite").parquet(out)
      println(s"""{"cells":${grid.size},"depth":${Sketch.CmsDepth},""" +
        s""""width":${Sketch.CmsWidth},"out":${jsonStr(out)}}""")
    }
  }

  /** `graft.Main cluster-update --new NEW_PARQUET --corpus CORPUS_PARQUET
    * --labels LABELS_PARQUET --out OUT [--threshold T]
    * [--shingles SHINGLES_PARQUET]` — incremental
    * cluster maintenance (SURVEY §2 c95): unions the new crawl's
    * verified near-dup edges into the FROZEN (node, cluster_id) label
    * table and re-runs connected components confined to touched
    * components; untouched labels pass through verbatim. The output is
    * the maintained label table — equal, row for row, to a full
    * re-cluster of the merged corpus (the equivalence c95's oracle
    * checks every round), at per-crawl cost that scales with the batch
    * plus touched components, never the corpus. `--shingles` injects
    * the corpus's at-rest (doc_id, shingle) artifact — the production
    * path; without it the corpus is shingled once per run (cached for
    * the run, never re-shingled per consumer). One JSON stats line. */
  private def clusterUpdate(args: Array[String]): Unit = {
    import graft.operators.Dedup
    val newIn = opt(args, "--new").getOrElse(sys.error("--new required"))
    val corpusIn = opt(args, "--corpus").getOrElse(sys.error("--corpus required"))
    val labelsIn = opt(args, "--labels").getOrElse(sys.error("--labels required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.5)
    val spark = GraftSession.get()
    // --media (r16): maintain a MEDIA label table at hash grain — --new
    // and --corpus name (doc_id, media_type, phash) parquets (`phash`
    // output), the edges are new-touching banded pairs at --max-hamming
    // BANDED PER MODALITY (an image gradient hash and an audio envelope
    // hash must never pair — the same key rule every other phash
    // surface enforces), the core is the same maintainLabels the text
    // path rides (c103)
    if (args.contains("--media")) {
      require(opt(args, "--threshold").isEmpty && opt(args, "--shingles").isEmpty,
        "--media maintains a phash label table: --threshold/--shingles are text flags")
      val maxHamming = opt(args, "--max-hamming").map(_.toInt).getOrElse(3)
      def hashFrame(path: String) = {
        val h = spark.read.parquet(path)
        require(Seq("doc_id", "media_type", "phash").forall(h.columns.contains),
          s"input $path must have (doc_id, media_type, phash) columns " +
            s"(`phash` output; the modality keys the banding), " +
            s"found ${h.columns.mkString("(", ", ", ")")}")
        h.select("doc_id", "media_type", "phash")
      }
      val labels = spark.read.parquet(labelsIn)
      require(Seq("node", "cluster_id").forall(labels.columns.contains),
        s"label table $labelsIn must have (node, cluster_id) columns, " +
          s"found ${labels.columns.mkString("(", ", ", ")")}")
      val before = labels.count()
      graft.operators.Multimodal.incrementalMediaClusters(
          hashFrame(newIn), hashFrame(corpusIn), labels, maxHamming,
          keyCols = Seq("media_type"))
        .write.mode("overwrite").parquet(out)
      val after = spark.read.parquet(out).count()
      println(s"""{"labels_before":$before,"labels_after":$after,""" +
        s""""max_hamming":$maxHamming,"media":true,"out":${jsonStr(out)}}""")
      return
    }
    def docsFrame(path: String) = {
      val d = spark.read.parquet(path)
      require(Seq("doc_id", "text").forall(d.columns.contains),
        s"input $path must have (doc_id, text) columns, " +
          s"found ${d.columns.mkString("(", ", ", ")")}")
      d.select("doc_id", "text")
    }
    val labels = spark.read.parquet(labelsIn)
    require(Seq("node", "cluster_id").forall(labels.columns.contains),
      s"label table $labelsIn must have (node, cluster_id) columns, " +
        s"found ${labels.columns.mkString("(", ", ", ")")}")
    val shEx = opt(args, "--shingles").map { p =>
      val sh = spark.read.parquet(p)
      require(Seq("doc_id", "shingle").forall(sh.columns.contains),
        s"shingle artifact $p must have (doc_id, shingle) columns, " +
          s"found ${sh.columns.mkString("(", ", ", ")")}")
      sh
    }
    val before = labels.count()
    Dedup.incrementalClusters(docsFrame(newIn), docsFrame(corpusIn),
        labels, threshold, existingShingles = shEx)
      .write.mode("overwrite").parquet(out)
    val after = spark.read.parquet(out).count()
    println(s"""{"labels_before":$before,"labels_after":$after,""" +
      s""""threshold":$threshold,"out":${jsonStr(out)}}""")
  }

  /** `graft.Main bpe-train --in PARQUET --out MERGES [--rounds N]
    * [--bytes]` — learn a BPE merge list over any (doc_id, text) parquet
    * (c52's training phase as an at-rest artifact step): writes the
    * ordered merges as (rank, a, b) parquet — the tokenizer file a
    * serving system ships — plus one JSON line. `--bytes` trains
    * BYTE-LEVEL (c70): pretokens keep their leading space and stage
    * through the GPT-2 byte alphabet, so any input byte sequence —
    * case, punctuation, emoji — tokenizes; the artifact's symbols are
    * staged-alphabet strings ('Ġthe'-shaped). `--gpt2-pre` (with
    * --bytes) pretokenizes with the EXACT published GPT-2 lookahead
    * pattern (contraction suffixes, class splits, whitespace-run
    * handling) via the native [[graft.functions.Gpt2Pretokens]]
    * expression — train and tokenize must use the same flag. */
  private def bpeTrain(args: Array[String]): Unit = {
    import graft.operators.TextOps
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val bytes = args.contains("--bytes")
    val gpt2Pre = args.contains("--gpt2-pre")
    require(!gpt2Pre || bytes, "--gpt2-pre requires --bytes")
    val rounds = opt(args, "--rounds").map(_.toInt)
      .getOrElse(if (bytes) TextOps.C70Rounds else TextOps.C52Rounds)
    require(rounds >= 1, s"--rounds must be >= 1, got $rounds")
    val spark = GraftSession.get()
    import spark.implicits._
    val docs = spark.read.parquet(in)
    require(docs.columns.contains("text"),
      s"input $in must have a text column, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    // word branch rides THE shared word-type convention
    // (TextOps.wordTypeCounts) — the last inline re-derivations here and
    // in unigramTrain were the r17 verdict's remaining drift risk
    val wc =
      if (bytes) TextOps.bytePretokenTypes(docs, gpt2Pre)
      else TextOps.wordTypeCounts(docs)
    val merges = TextOps.trainBpeOn(wc, rounds)
    merges.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "a", "b")
      .coalesce(1).write.mode("overwrite").parquet(out)
    // --export PATH (r19): the portable tokenizers-json artifact next to
    // the parquet one — the train→SHIP step non-JVM consumers read
    val exported = opt(args, "--export").map { ep =>
      graft.sources.TokenizerJson.write(ep,
        graft.sources.TokenizerJson.BpeArtifact(merges, byteLevel = bytes,
          meta = Map("rounds" -> rounds.toString,
            "gpt2_pre" -> gpt2Pre.toString, "trained_on" -> in)))
      s""","export":${jsonStr(ep)}"""
    }.getOrElse("")
    println(s"""{"merges":${merges.length},"rounds":$rounds,""" +
      s""""bytes":$bytes,"gpt2_pre":$gpt2Pre,"out":${jsonStr(out)}$exported}""")
  }

  /** `graft.Main unigram-train --in PARQUET --out PIECES
    * [--seed-multis N] [--vocab N] [--rounds R]` — learn a unigram-LM
    * (SentencePiece-style) piece vocabulary over any (doc_id, text)
    * parquet (c75's training phase as an at-rest artifact step): writes
    * the canonical (piece, score) table — integer fixed-point
    * log-probabilities, the tokenizer file `tokenize --unigram` applies
    * — plus one JSON line. */
  private def unigramTrain(args: Array[String]): Unit = {
    import graft.operators.Unigram
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val seedMultis = opt(args, "--seed-multis").map(_.toInt)
      .getOrElse(Unigram.SeedMultis)
    val vocabMultis = opt(args, "--vocab").map(_.toInt)
      .getOrElse(Unigram.VocabMultis)
    val rounds = opt(args, "--rounds").map(_.toInt).getOrElse(Unigram.Rounds)
    val spark = GraftSession.get()
    import spark.implicits._
    val docs = spark.read.parquet(in)
    require(docs.columns.contains("text"),
      s"input $in must have a text column, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    // THE shared word-type convention (TextOps.wordTypeCounts) — see
    // bpeTrain's note
    val wt = graft.operators.TextOps.wordTypeCounts(docs)
    val art = Unigram.trainUnigramOn(wt, seedMultis, vocabMultis, rounds)
    art.toDF("piece", "score")
      .coalesce(1).write.mode("overwrite").parquet(out)
    val exported = opt(args, "--export").map { ep =>
      graft.sources.TokenizerJson.write(ep,
        graft.sources.TokenizerJson.UnigramArtifact(art,
          meta = Map("seed_multis" -> seedMultis.toString,
            "vocab_multis" -> vocabMultis.toString,
            "rounds" -> rounds.toString, "trained_on" -> in)))
      s""","export":${jsonStr(ep)}"""
    }.getOrElse("")
    println(s"""{"pieces":${art.length},""" +
      s""""multis":${art.count(_._1.length > 1)},"rounds":$rounds,""" +
      s""""out":${jsonStr(out)}$exported}""")
  }

  /** `graft.Main wordpiece-train --in PARQUET --out VOCAB [--rounds R]`
    * — learn a WordPiece vocabulary over any (doc_id, text) parquet
    * (c98's training phase as an at-rest artifact step): writes the
    * canonical single-column (piece) vocabulary — plain first-position
    * pieces and "##"-marked continuations, the tokenizer file
    * `tokenize --wordpiece` greedy-matches against — plus one JSON
    * line. */
  private def wordpieceTrain(args: Array[String]): Unit = {
    import graft.operators.Wordpiece
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val rounds = opt(args, "--rounds").map(_.toInt).getOrElse(Wordpiece.WpRounds)
    require(rounds >= 1, s"--rounds must be >= 1, got $rounds")
    val spark = GraftSession.get()
    import spark.implicits._
    val docs = spark.read.parquet(in)
    require(docs.columns.contains("text"),
      s"input $in must have a text column, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    // THE shared word-type convention (TextOps.wordTypeCounts — r17
    // ADVICE: no inline re-derivation that could drift from the gates)
    val wt = graft.operators.TextOps.wordTypeCounts(docs)
    val vocab = Wordpiece.trainWordpieceOn(wt, rounds)
    vocab.toDF("piece")
      .coalesce(1).write.mode("overwrite").parquet(out)
    val exported = opt(args, "--export").map { ep =>
      graft.sources.TokenizerJson.write(ep,
        graft.sources.TokenizerJson.WordpieceArtifact(vocab,
          meta = Map("rounds" -> rounds.toString, "trained_on" -> in)))
      s""","export":${jsonStr(ep)}"""
    }.getOrElse("")
    println(s"""{"pieces":${vocab.length},""" +
      s""""multis":${vocab.count(p => p.stripPrefix("##").length > 1)},""" +
      s""""rounds":$rounds,"out":${jsonStr(out)}$exported}""")
  }

  /** `graft.Main tokenize --wordpiece --in PARQUET --vocab VOCAB --out
    * OUT` — apply a `wordpiece-train` artifact: each doc's words
    * segment by greedy longest-match-first under the inlined vocabulary
    * (row-local, zero exchanges — d13's plan-literal artifact rule;
    * unmatched words emit the single [UNK]); writes the family's common
    * (doc_id, n_words, n_tokens, tokens) shape. */
  private def tokenizeWordpiece(args: Array[String]): Unit = {
    import graft.operators.Wordpiece
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val vocabPath = opt(args, "--vocab")
      .getOrElse(sys.error("--vocab required with --wordpiece"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    require(!args.contains("--bytes") && !args.contains("--gpt2-pre"),
      "--wordpiece is the word-level greedy path; --bytes/--gpt2-pre are BPE flags")
    val spark = GraftSession.get()
    val vocab =
      if (vocabPath.endsWith(".json")) {
        graft.sources.TokenizerJson.read(vocabPath) match {
          case a: graft.sources.TokenizerJson.WordpieceArtifact => a.vocab
          case other => sys.error(
            s"artifact $vocabPath is kind '${other.kind}', expected wordpiece")
        }
      } else {
        val vf = spark.read.parquet(vocabPath)
        require(vf.columns.contains("piece"),
          s"vocab $vocabPath must have a piece column, " +
            s"found ${vf.columns.mkString("(", ", ", ")")}")
        vf.orderBy("piece").collect()
          .map(_.getAs[String]("piece")).toSeq
      }
    // mirror the trainer's MaxPieceLen filter LOUDLY (r17 ADVICE): the
    // greedy matcher only probes prefixes up to MaxPieceLen chars, so a
    // hand-assembled piece longer than that would be silently unmatchable
    val tooLong = vocab.filter(p =>
      p.stripPrefix("##").length > Wordpiece.MaxPieceLen)
    require(tooLong.isEmpty,
      s"vocab $vocabPath has ${tooLong.length} piece(s) whose surface exceeds " +
        s"the matcher's MaxPieceLen=${Wordpiece.MaxPieceLen} and can never " +
        s"match: ${tooLong.take(5).mkString("(", ", ", ")")}")
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    // THE shared derivation (d29's rule): the CLI, the c98/c99 gate rows
    // and d47's stream twin all project through Wordpiece.tokenizeDocs
    Wordpiece.tokenizeDocs(docs, vocab)
      .write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val stats = written.agg(count(lit(1)),
      coalesce(sum(col("n_tokens")), lit(0L))).head()
    println(s"""{"docs":${stats.getLong(0)},"total_tokens":${stats.getLong(1)},""" +
      s""""pieces":${vocab.length},"wordpiece":true,"out":${jsonStr(out)}}""")
  }

  /** `graft.Main tokenize --in PARQUET --merges MERGES --out OUT
    * [--bytes]` — apply a `bpe-train` artifact to a corpus through the native
    * [[graft.functions.ApplyBpe]] expression (one fused plan node at ANY
    * merge count — this is the path that serves a real ~30k-merge
    * tokenizer, where the replace-chain formulation cannot plan):
    * writes (doc_id, n_words, n_tokens, tokens). The merge list is the
    * one bounded driver-side collect a tokenizer apply needs — it IS
    * the model artifact (vocab-sized, like d21's plan literals). */
  private def tokenize(args: Array[String]): Unit = {
    if (args.contains("--unigram")) { tokenizeUnigram(args); return }
    if (args.contains("--wordpiece")) { tokenizeWordpiece(args); return }
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val mergesPath = opt(args, "--merges").getOrElse(sys.error("--merges required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val bytes = args.contains("--bytes")
    val gpt2Pre = args.contains("--gpt2-pre")
    require(!gpt2Pre || bytes, "--gpt2-pre requires --bytes")
    val spark = GraftSession.get()
    // a .json artifact (bpe-train --export) loads through the portable
    // reader; the kind must agree with the requested staging mode — a
    // word-level merge list applied to byte-staged pretokens (or vice
    // versa) would silently tokenize garbage
    val merges =
      if (mergesPath.endsWith(".json")) {
        graft.sources.TokenizerJson.read(mergesPath) match {
          case a: graft.sources.TokenizerJson.BpeArtifact =>
            require(a.byteLevel == bytes,
              s"artifact $mergesPath is kind '${a.kind}' but the requested " +
                s"mode is ${if (bytes) "byte_bpe (--bytes)" else "bpe"}")
            a.merges
          case other => sys.error(
            s"artifact $mergesPath is kind '${other.kind}', expected bpe/byte_bpe")
        }
      } else {
        val mf = spark.read.parquet(mergesPath)
        require(Seq("rank", "a", "b").forall(mf.columns.contains),
          s"merges $mergesPath must have (rank, a, b) columns, " +
            s"found ${mf.columns.mkString("(", ", ", ")")}")
        mf.orderBy("rank").collect()
          .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
      }
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    // --bytes: a `bpe-train --bytes` artifact applies to byte-STAGED
    // pretokens (c70's path) — tokens come out in the staged alphabet
    // and ByteBpeFunctions.byteUnstage(concat(tokens)) recovers the
    // input bytes exactly (CLI-spec-pinned round trip)
    graft.operators.TextOps.bpeTokenizeDocs(docs, merges, bytes, gpt2Pre)
      .write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val stats = written.agg(count(lit(1)),
      coalesce(sum(col("n_tokens")), lit(0L))).head()
    println(s"""{"docs":${stats.getLong(0)},"total_tokens":${stats.getLong(1)},""" +
      s""""merges":${merges.length},"bytes":$bytes,"gpt2_pre":$gpt2Pre,""" +
      s""""out":${jsonStr(out)}}""")
  }

  /** `graft.Main tokenize --unigram --in PARQUET --pieces PIECES --out
    * OUT` — apply a `unigram-train` artifact: each doc's words segment
    * by maximum-likelihood Viterbi under the inlined (piece, score) map
    * (row-local, zero exchanges — d13's plan-literal artifact rule);
    * writes the same (doc_id, n_words, n_tokens, tokens) shape as the
    * BPE path so downstream stages are tokenizer-agnostic. */
  private def tokenizeUnigram(args: Array[String]): Unit = {
    import graft.operators.Unigram
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val piecesPath = opt(args, "--pieces")
      .getOrElse(sys.error("--pieces required with --unigram"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    require(!args.contains("--bytes") && !args.contains("--gpt2-pre"),
      "--unigram is the word-level unigram path; --bytes/--gpt2-pre are BPE flags")
    require(!args.contains("--wordpiece"),
      "--unigram and --wordpiece are mutually exclusive tokenizer modes")
    val spark = GraftSession.get()
    val art =
      if (piecesPath.endsWith(".json")) {
        graft.sources.TokenizerJson.read(piecesPath) match {
          case a: graft.sources.TokenizerJson.UnigramArtifact => a.pieces
          case other => sys.error(
            s"artifact $piecesPath is kind '${other.kind}', expected unigram")
        }
      } else {
        val pf = spark.read.parquet(piecesPath)
        require(Seq("piece", "score").forall(pf.columns.contains),
          s"pieces $piecesPath must have (piece, score) columns, " +
            s"found ${pf.columns.mkString("(", ", ", ")")}")
        pf.orderBy("piece").collect()
          .map(r => (r.getAs[String]("piece"), r.getAs[Long]("score"))).toSeq
      }
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    // THE shared derivation (d29's rule): the CLI, the c78 gate row and
    // d36's stream twin all project through Unigram.tokenizeDocs
    Unigram.tokenizeDocs(docs, art)
      .write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val stats = written.agg(count(lit(1)),
      coalesce(sum(col("n_tokens")), lit(0L))).head()
    println(s"""{"docs":${stats.getLong(0)},"total_tokens":${stats.getLong(1)},""" +
      s""""pieces":${art.length},"unigram":true,"out":${jsonStr(out)}}""")
  }

  /** `graft.Main scrub --in PARQUET --out OUT [--n N]` — c63's span
    * scrubber over any (doc_id, text) parquet: every doc rewritten with
    * non-canonical duplicated runs cut (one copy kept corpus-wide — the
    * corpus-first occurrence owns each n-shingle); writes (doc_id,
    * n_tokens, n_cut, scrubbed_text) plus one JSON stats line. The
    * transform `spans` reports on. */
  private def scrub(args: Array[String]): Unit = {
    import graft.operators.Dedup
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val n = opt(args, "--n").map(_.toInt).getOrElse(5)
    require(n >= 1, s"--n must be >= 1, got $n")
    // --min-span L [--strong-n W]: the c67 thresholded form — cut only
    // inside confirmed >= L-token spans (the spans-CLI flag pair)
    val minSpan = opt(args, "--min-span").map(_.toInt)
    val strongN = opt(args, "--strong-n").map(_.toInt)
      .orElse(minSpan.map(math.min(_, 20)))
    require(strongN.forall(_ >= 1), s"--strong-n must be >= 1, got $strongN")
    require(minSpan.isDefined || strongN.isEmpty,
      "--strong-n requires --min-span")
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val selected = docs.select("doc_id", "text")
    (minSpan match {
      case Some(ms) => Dedup.scrubSpansMin(selected, n, ms, strongN.get)
      case None => Dedup.scrubSpans(selected, n)
    }).write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    // coalesce: sums are null on an empty output (the chunk-stats rule)
    val stats = written.agg(count(lit(1)),
      coalesce(sum(col("n_tokens")), lit(0L)),
      coalesce(sum(col("n_cut")), lit(0L))).head()
    println(s"""{"docs":${stats.getLong(0)},"tokens":${stats.getLong(1)},""" +
      s""""cut_tokens":${stats.getLong(2)},"n":$n""" +
      minSpan.map(ms => s""","min_span":$ms,"strong_n":${strongN.get}""").getOrElse("") +
      s""","out":${jsonStr(out)}}""")
  }

  /** `graft.Main plan --threshold T [--perm K] [--fp-weight W]` — the
    * config-time LSH banding planner (Dedup.lshPlan): prints the
    * (bands, rows) split of K minhashes minimizing expected candidate
    * error at Jaccard threshold T, with the integrated false-pos/neg
    * masses. Pure arithmetic — no SparkSession, no data. */
  private def planCmd(args: Array[String]): Unit = {
    val t = opt(args, "--threshold").map(_.toDouble)
      .getOrElse(sys.error("--threshold required"))
    val k = opt(args, "--perm").map(_.toInt).getOrElse(8)
    val w = opt(args, "--fp-weight").map(_.toDouble).getOrElse(0.5)
    val (b, r, fp, fn) = graft.operators.Dedup.lshPlan(t, k, w)
    // Locale.ROOT: the f-interpolator's %.6f uses the default locale — a
    // comma-decimal locale would print malformed JSON
    println(String.format(java.util.Locale.ROOT,
      """{"threshold":%s,"perm":%d,"bands":%d,"rows":%d,""" +
        """"fp_mass":%.6f,"fn_mass":%.6f}""",
      t.toString, Int.box(k), Int.box(b), Int.box(r),
      Double.box(fp), Double.box(fn)))
  }

  /** The `--unicode [--strip-punct]` tokenizer selection shared by the
    * generic-text CLI paths (score/spans — vocab keeps its own branch
    * because its ASCII path is the memoized gate operator): default is
    * the gate's engine-exact ASCII split; `--unicode` swaps in the
    * codegen'd NFC/Unicode-whitespace variant (SURVEY §2 tokenizer
    * note), parity-pinned by driver brute-force specs instead of a SQL
    * oracle. */
  private def tokenizerOf(args: Array[String])
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val unicode = args.contains("--unicode")
    val stripPunct = args.contains("--strip-punct")
    require(unicode || !stripPunct, "--strip-punct requires --unicode")
    if (unicode) t => graft.functions.UnicodeTokenize.uniTokens(t, stripPunct)
    else t => split(lower(t), " ")
  }

  /** `graft.Main neardup --in EMB_PARQUET --out OUT [--threshold T]
    * [--bands B] [--planes R] [--index]` — c71's banded embedding
    * near-dup over any (vec_id, embedding) parquet: verified ≥-threshold
    * pairs at production recall (default 24 bands × 4 planes — 0.97 of
    * the exact pairs on the gate corpus, c72-measured). `--index`
    * instead writes the at-rest (band, bucket, vec_id, v) banding index
    * d32's ingest probe joins — at scale written BUCKETED by
    * (band, bucket) (the `Stress bucketed` measurement). */
  private def neardup(args: Array[String]): Unit = {
    import graft.operators.Similarity
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.3)
    val bands = opt(args, "--bands").map(_.toInt)
      .getOrElse(Similarity.C71Bands)
    val planes = opt(args, "--planes").map(_.toInt)
      .getOrElse(Similarity.C71PlanesPerBand)
    val spark = GraftSession.get()
    val embs = spark.read.parquet(in)
    require(Seq("vec_id", "embedding").forall(embs.columns.contains),
      s"input $in must have (vec_id, embedding) columns, " +
        s"found ${embs.columns.mkString("(", ", ", ")")}")
    val base = embs.select("vec_id", "embedding")
    if (args.contains("--index")) {
      Similarity.bandedIndexOf(base, bands, planes)
        .write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      val stats = written.agg(count(lit(1)),
        count_distinct(col("vec_id"))).head()
      println(s"""{"rows":${stats.getLong(0)},"vectors":${stats.getLong(1)},""" +
        s""""bands":$bands,"planes":$planes,"out":${jsonStr(out)}}""")
    } else {
      Similarity.bandedNearDupOn(base, threshold, bands, planes)
        .write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      val stats = written.agg(count(lit(1)),
        count_distinct(col("vec_a"))).head()
      println(s"""{"pairs":${stats.getLong(0)},"docs_a":${stats.getLong(1)},""" +
        s""""threshold":$threshold,"bands":$bands,"planes":$planes,""" +
        s""""out":${jsonStr(out)}}""")
    }
  }

  /** `graft.Main score --in PARQUET --out OUT [--min-prob P] [--quality]
    * [--unicode [--strip-punct]]` — corpus quality scoring over any
    * (doc_id, text) parquet: default is c41's corpus-frequency score
    * with its keep verdict (CCNet's shape); `--quality` runs the c35
    * Gopher-style rule battery instead. `--unicode` scores through the
    * NFC/Unicode tokenizer — the variant a multilingual corpus needs
    * first, where the ASCII split undercounts every NBSP-joined or
    * ideographic-space text (the gate rows keep the ASCII split for
    * oracle exactness). */
  private def score(args: Array[String]): Unit = {
    import graft.operators.TextOps
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val quality = args.contains("--quality")
    val minProb = opt(args, "--min-prob").map(_.toDouble).getOrElse(0.033)
    val tokens = tokenizerOf(args)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val base = docs.select("doc_id", "text")
    (if (quality) TextOps.qualityFilterOn(base, tokens)
     else TextOps.freqScoreOn(base, tokens, minProb))
      .write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val stats = written.agg(count(lit(1)),
      count(when(col("keep"), lit(1)))).head()
    println(s"""{"docs":${stats.getLong(0)},"kept":${stats.getLong(1)},""" +
      s""""quality":$quality,"unicode":${args.contains("--unicode")},""" +
      s""""out":${jsonStr(out)}}""")
  }

  /** `graft.Main select --in PARQUET --out OUT [--target-lang L]
    * [--save-artifact PATH] [--artifact PATH] [--unicode
    * [--strip-punct]]` — c80's DSIR importance
    * weighting over any (doc_id, text[, lang]) parquet. With
    * `--artifact` the stored (bucket, lr_fx) table scores the input
    * WITHOUT retraining (the d37 serving path — no lang column needed;
    * train-time-unseen buckets score the neutral 0); otherwise the
    * input trains the artifact (lang column required), optionally
    * persisted via `--save-artifact` for later `--artifact` runs /
    * d37 ingest. One JSON stats line. */
  private def selectCmd(args: Array[String]): Unit = {
    import graft.operators.Dsir
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val trained = opt(args, "--artifact").isEmpty
    val art: Seq[(String, Long)] = opt(args, "--artifact") match {
      case Some(p) =>
        val a = spark.read.parquet(p)
        require(Seq("bucket", "lr_fx").forall(a.columns.contains),
          s"--artifact $p must be a (bucket, lr_fx) table (Main select " +
            s"--save-artifact writes one), found " +
            a.columns.mkString("(", ", ", ")"))
        a.collect()
          .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("lr_fx")))
          .sortBy(_._1).toIndexedSeq
      case None =>
        require(docs.columns.contains("lang"),
          s"training needs a lang column in $in (or pass --artifact)")
        Dsir.trainDsirOn(docs,
          opt(args, "--target-lang").getOrElse(Dsir.TargetLang),
          tokenizerOf(args))
    }
    opt(args, "--save-artifact").foreach { p =>
      import spark.implicits._
      art.toDF("bucket", "lr_fx").coalesce(1)
        .write.mode("overwrite").parquet(p)
    }
    Dsir.weightsOf(Dsir.scoreDocsByType(docs.select("doc_id", "text"), art,
        tokenizerOf(args)))
      .orderBy("doc_id")
      .write.mode("overwrite").parquet(out)
    val stats = spark.read.parquet(out)
      .agg(count(lit(1)), count(when(col("keep"), lit(1)))).head()
    println(s"""{"docs":${stats.getLong(0)},"kept":${stats.getLong(1)},""" +
      s""""buckets":${art.length},"trained":$trained,""" +
      s""""unicode":${args.contains("--unicode")},"out":${jsonStr(out)}}""")
  }

  /** `graft.Main contain --in PARQUET --out OUT [--threshold T]` —
    * c81's asymmetric containment pairs over any (doc_id, text)
    * parquet: winnow-fingerprint candidates, exact bidirectional
    * distinct-shingle containment. One JSON stats line. */
  private def contain(args: Array[String]): Unit = {
    import graft.operators.Dedup
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.5)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val base = docs.select("doc_id", "text")
    Dedup.containmentOn(base, Dedup.shingleRows(base), threshold)
      .write.mode("overwrite").parquet(out)
    val stats = spark.read.parquet(out)
      .agg(count(lit(1)), count(when(col("contained"), lit(1)))).head()
    println(s"""{"pairs":${stats.getLong(0)},"contained":${stats.getLong(1)},""" +
      s""""threshold":$threshold,"out":${jsonStr(out)}}""")
  }

  /** `graft.Main phash --in MEDIA_PARQUET --out OUT [--pairs]
    * [--max-hamming H]` — the perceptual-dedup surface over any
    * (doc_id, media_type, payload) parquet: per record the 56-bit
    * perceptual hash ([[graft.operators.Multimodal.phashOf]]'s
    * dispatch — image/png/jpeg → 2-D gradient dHash, audio → 1-D
    * delta-sign; video refuses — hash its FRAMES via the c91 shape
    * instead) plus the 4 Hamming-band segments; `--pairs` writes the
    * banded near-dup candidates (doc_a, doc_b, hamming ≤ H) instead,
    * banded PER MODALITY — an image gradient hash and an audio
    * envelope hash must never pair; `--clusters` writes the c102
    * DECISION surface instead (per-modality connected components of the
    * banded pair graph, clustered over distinct hashes: doc_id,
    * media_type, cluster_id, cluster_size, is_canonical — min-id
    * survivorship). One JSON stats line.
    *
    * Lifecycle (r16 — the hash table is the at-rest index d43/d44
    * route against, so it needs the same add/erase story the vector
    * index got): `--add --index IDX --in NEW_MEDIA` hashes the new
    * records through the SAME dispatch and appends (doc_ids must be
    * disjoint — a duplicate would route twice, checked loud);
    * `--remove --index IDX --in IDS` (a doc_id parquet) is
    * right-to-erasure: anti-join filter-and-compact, staged to a
    * sibling dir and swapped in rename-aside order ([[stagedSwap]]) —
    * add-then-remove ≡ never-added row-for-row (CLI-spec-pinned). */
  private def phashCmd(args: Array[String]): Unit = {
    import graft.operators.Multimodal
    val add = args.contains("--add")
    val remove = args.contains("--remove")
    require(!(add && remove), "--add and --remove are mutually exclusive")
    if (add || remove) { phashLifecycle(args, add); return }
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val pairs = args.contains("--pairs")
    val maxHamming = opt(args, "--max-hamming").map(_.toInt).getOrElse(3)
    val spark = GraftSession.get()
    import spark.implicits._
    val media = spark.read.parquet(in)
    require(Seq("doc_id", "media_type", "payload").forall(media.columns.contains),
      s"input $in must have (doc_id, media_type, payload) columns, " +
        s"found ${media.columns.mkString("(", ", ", ")")}")
    val hashes = media.select("doc_id", "media_type", "payload")
      .as[graft.operators.MediaRecord]
      .mapPartitions(_.map(r => (r.doc_id, r.media_type,
        Multimodal.phashOf(r.doc_id, r.media_type, r.payload))))
      .toDF("doc_id", "media_type", "phash")
    if (args.contains("--clusters")) {
      // the c102 decision surface over ANY media parquet: per-modality
      // components (an image hash never pairs an audio hash) clustered at
      // distinct-hash grain → (doc_id, media_type, cluster_id,
      // cluster_size, is_canonical), min-id survivorship
      require(!pairs, "--pairs and --clusters are mutually exclusive outputs")
      // the hashes feed the rep groups, the doc attach and the surface:
      // persisted for the verb, so the payload decode runs once
      val hs = hashes.persist()
      try {
        val labels = Multimodal.phashClusterLabels(hs, maxHamming,
          keyCols = Seq("media_type"))
        // the SAME decision-surface derivation the c102/c103 gate rows
        // run (one survivorship semantics — media_type carried through)
        Multimodal.clusterSurface(hs.select("doc_id", "media_type"),
            labels, carryCols = Seq("media_type"))
          .write.mode("overwrite").parquet(out)
      } finally { hs.unpersist(); () }
      val stats = spark.read.parquet(out)
        .agg(count(lit(1)), count_distinct(col("cluster_id")),
          count(when(col("is_canonical"), lit(1)))).head()
      println(s"""{"docs":${stats.getLong(0)},"clusters":${stats.getLong(1)},""" +
        s""""canonicals":${stats.getLong(2)},"max_hamming":$maxHamming,""" +
        s""""out":${jsonStr(out)}}""")
    } else if (pairs) {
      Multimodal.phashCandidates(hashes, maxHamming, keyCols = Seq("media_type"))
        .orderBy("doc_a", "doc_b")
        .write.mode("overwrite").parquet(out)
      val stats = spark.read.parquet(out)
        .agg(count(lit(1)), count(when(col("hamming") === 0, lit(1)))).head()
      println(s"""{"pairs":${stats.getLong(0)},"exact":${stats.getLong(1)},""" +
        s""""max_hamming":$maxHamming,"out":${jsonStr(out)}}""")
    } else {
      hashes.select(col("doc_id") +: col("media_type") +: col("phash") +:
          Multimodal.phashSegCols(col("phash")): _*)
        .orderBy("doc_id")
        .write.mode("overwrite").parquet(out)
      val stats = spark.read.parquet(out)
        .agg(count(lit(1)), count_distinct(col("phash"))).head()
      println(s"""{"docs":${stats.getLong(0)},"distinct_hashes":${stats.getLong(1)},""" +
        s""""out":${jsonStr(out)}}""")
    }
  }

  /** The phash index add/erase verbs (see [[phashCmd]]'s doc). */
  private def phashLifecycle(args: Array[String], add: Boolean): Unit = {
    import graft.operators.Multimodal
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val idx = opt(args, "--index").getOrElse(
      sys.error("--index required with --add/--remove"))
    require(!args.contains("--pairs"),
      "--pairs is a read path; run it against the index after --add/--remove")
    val spark = GraftSession.get()
    import spark.implicits._
    val existing = spark.read.parquet(idx)
    require(Seq("doc_id", "media_type", "phash", "seg0").forall(
      existing.columns.contains),
      s"--index $idx is not a phash hash table, " +
        s"found ${existing.columns.mkString("(", ", ", ")")}")
    if (add) {
      val media = spark.read.parquet(in)
      require(Seq("doc_id", "media_type", "payload").forall(media.columns.contains),
        s"--add input $in must have (doc_id, media_type, payload) columns, " +
          s"found ${media.columns.mkString("(", ", ", ")")}")
      val clash = media.select("doc_id")
        .join(existing.select("doc_id"), "doc_id").count()
      require(clash == 0L,
        s"--add: $clash doc_ids are already present in the index " +
          s"(a duplicate would route twice); re-id or drop them first")
      // duplicates WITHIN the batch would append twice just the same
      val selfDup = media.count() - media.select("doc_id").distinct().count()
      require(selfDup == 0L,
        s"--add: $selfDup duplicate doc_ids inside the batch itself " +
          s"(a duplicate would route twice); dedupe the crawl first")
      // the SAME dispatch + seg projection the build path runs — a
      // stream-added row is byte-identical to a built one
      val hashes = media.select("doc_id", "media_type", "payload")
        .as[graft.operators.MediaRecord]
        .mapPartitions(_.map(r => (r.doc_id, r.media_type,
          Multimodal.phashOf(r.doc_id, r.media_type, r.payload))))
        .toDF("doc_id", "media_type", "phash")
      hashes.select(col("doc_id") +: col("media_type") +: col("phash") +:
          Multimodal.phashSegCols(col("phash")): _*)
        .write.mode("append").parquet(idx)
      val after = spark.read.parquet(idx).count()
      println(s"""{"added":${media.count()},"records":$after,""" +
        s""""index":${jsonStr(idx)}}""")
    } else {
      val ids = spark.read.parquet(in)
      require(ids.columns.contains("doc_id"),
        s"--remove input $in must have a doc_id column, " +
          s"found ${ids.columns.mkString("(", ", ", ")")}")
      val before = existing.count()
      val kept = existing.join(ids.select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      val tmp = s"${idx.stripSuffix("/")}__compact"
      kept.write.mode("overwrite").parquet(tmp)
      stagedSwap(spark, live = idx.stripSuffix("/"), staged = tmp)
      val after = spark.read.parquet(idx).count()
      println(s"""{"removed":${before - after},"records":$after,""" +
        s""""index":${jsonStr(idx)}}""")
    }
  }

  /** `graft.Main curriculum --in PARQUET --out OUT [--phases N]` —
    * c86's training order over any (doc_id, text) parquet: exact global
    * quality rank (no single-partition window — a4's zipWithIndex
    * machinery), easy-to-hard phase deciles, deterministic intra-phase
    * md5 shuffle. The output is what a trainer reads ORDER BY
    * train_pos. One JSON stats line. */
  private def curriculum(args: Array[String]): Unit = {
    import graft.operators.Curriculum
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val phases = opt(args, "--phases").map(_.toInt).getOrElse(10)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    Curriculum.curriculumOn(docs.select("doc_id", "text"), phases)
      .write.mode("overwrite").parquet(out)
    val stats = spark.read.parquet(out)
      .agg(count(lit(1)), countDistinct(col("phase"))).head()
    println(s"""{"docs":${stats.getLong(0)},"phases":${stats.getLong(1)},""" +
      s""""out":${jsonStr(out)}}""")
  }

  /** `graft.Main spans --in PARQUET --out OUT [--n N]` — c62's maximal
    * duplicated-substring spans over any (doc_id, text) parquet: one row
    * per [span_start, span_end] token interval in which EVERY token is
    * covered by some n-shingle occurring more than once corpus-wide
    * (shingles straddling two fused runs may themselves be unique) —
    * the cut list substring-level dedup (Lee et al. 2021) feeds a
    * scrubber. One JSON stats line.
    *
    * `--min-span L [--strong-n W]` switches to the c65 thresholded form:
    * spans cut at span_tokens >= L and confirmed by >= 1 duplicated
    * W-shingle wholly inside (default W = min(L, 20)).
    *
    * `--exact` (r12) runs the suffix-automaton EXACT pass instead: --in
    * names a DATA DIR (the corpus the c69 cluster tables were built
    * over), and the output is one row per (canonical, member) cluster
    * pair with the longest exact common token run measured to the token
    * (Dedup.exactClusterSpans — the per-pair upgrade of the shingle
    * approximation; see SURVEY §4). */
  private def spans(args: Array[String]): Unit = {
    import graft.operators.Dedup
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    if (args.contains("--exact")) {
      val spark = GraftSession.get()
      val strongN = opt(args, "--strong-n").map(_.toInt).getOrElse(20)
      require(strongN >= 1, s"--strong-n must be >= 1, got $strongN")
      Dedup.exactClusterSpans(spark, in, strongN)
        .write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      val stats = written.agg(count(lit(1)),
        coalesce(max(col("len_exact")), lit(0L)),
        coalesce(min(col("len_exact")), lit(0L))).head()
      println(s"""{"pairs":${stats.getLong(0)},"max_run":${stats.getLong(1)},""" +
        s""""min_run":${stats.getLong(2)},"strong_n":$strongN,""" +
        s""""out":${jsonStr(out)}}""")
      return
    }
    val n = opt(args, "--n").map(_.toInt).getOrElse(5)
    require(n >= 1, s"--n must be >= 1, got $n")
    val minSpan = opt(args, "--min-span").map(_.toInt)
    val strongN = opt(args, "--strong-n").map(_.toInt)
      .orElse(minSpan.map(math.min(_, 20)))
    require(strongN.forall(_ >= 1), s"--strong-n must be >= 1, got $strongN")
    require(minSpan.isDefined || strongN.isEmpty,
      "--strong-n requires --min-span")
    // --unicode: shingle over the NFC/Unicode-whitespace tokenizer
    // (vocab's rule, r12) — a multilingual corpus where NBSP/ideographic
    // spaces hide token boundaries from the ASCII split; parity-pinned
    // by spec, no SQL oracle by design (gate rows stay ASCII)
    val tokens = tokenizerOf(args)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val selected = docs.select("doc_id", "text")
    (minSpan match {
      case Some(ms) => Dedup.dupSpansMin(selected, ms, strongN.get, n, tokens)
      case None => Dedup.dupSpans(selected, n, tokens)
    }).write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    // coalesce: sums are null on an empty output (the chunk-stats rule)
    val stats = written.agg(count(lit(1)),
      count_distinct(col("doc_id")),
      coalesce(sum(col("span_tokens")), lit(0L))).head()
    println(s"""{"spans":${stats.getLong(0)},"docs_with_spans":${stats.getLong(1)},""" +
      s""""dup_tokens":${stats.getLong(2)},"n":$n""" +
      minSpan.map(ms => s""","min_span":$ms,"strong_n":${strongN.get}""").getOrElse("") +
      s""","out":${jsonStr(out)}}""")
  }

  /** `graft.Main card --in PARQUET --out OUT` — c61's dataset card over
    * any (doc_id, text, lang) parquet: the release summary table
    * (counts, exact-dup rate, language mix, quality-keep share), written
    * as parquet with the card echoed as one JSON line. */
  private def card(args: Array[String]): Unit = {
    import graft.operators.TextOps
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text", "lang").forall(docs.columns.contains),
      s"input $in must have (doc_id, text, lang) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    TextOps.datasetCard(docs.select("doc_id", "text", "lang"))
      .write.mode("overwrite").parquet(out)
    // jsonStr on the metric name too: lang_share:<lang> keys carry a
    // data-derived lang value, and a quote/backslash/control char in it
    // must not break the one-JSON-line contract
    val entries = spark.read.parquet(out).orderBy("metric").collect()
      .map(r => s"${jsonStr(r.getAs[String]("metric"))}:${r.getAs[Double]("value_r")}")
    println(entries.mkString("{", ",", s""","out":${jsonStr(out)}}"""))
  }

  /** `graft.Main search --in PARQUET --terms a,b,c --out OUT [--k N]` —
    * c55's log-free exact-rational BM25 over an arbitrary (doc_id, text)
    * parquet for a comma-separated query term set: writes the top-k
    * ranking (doc_id, dl, per-term tf and score columns, total) plus one
    * JSON summary line. One map-side-combined corpus pass however many
    * terms; the cut is TakeOrderedAndProject. */
  private def search(args: Array[String]): Unit = {
    import graft.operators.TextOps
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val terms = opt(args, "--terms").getOrElse(sys.error("--terms required"))
      .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "--terms must name at least one query term")
    val k = opt(args, "--k").map(_.toInt).getOrElse(20)
    require(k >= 1, s"--k must be >= 1, got $k")
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val base = docs.select("doc_id", "text")
    if (args.contains("--fuse")) {
      // hybrid ranking (c59's RRF of BM25 + query-likelihood) — the
      // serving shape of hybrid search; still one corpus pass
      val cut = opt(args, "--cut").map(_.toInt).getOrElse(50)
      TextOps.rrfFuseOn(base, terms, cut, k)
        .write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      val top = written.orderBy(desc("rrf_r"), asc("doc_id")).head(1)
      val topJson = top.headOption.map(r =>
        s""","top_doc":${r.getAs[Number]("doc_id").longValue},""" +
          s""""top_rrf":${r.getAs[Double]("rrf_r")}""").getOrElse("")
      println(s"""{"rows":${written.count()},"terms":${terms.length},""" +
        s""""fused":true,"cut":$cut""" + topJson + s""","out":${jsonStr(out)}}""")
    } else {
      TextOps.bm25ScoredOn(base, terms)
        .orderBy(desc("score"), asc("doc_id")).limit(k)
        .write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      // headOption shape: an empty corpus (or all-null text) must summarize
      // as zero rows, not crash after a successful write; doc_id read as
      // Number so an int-typed input id still prints
      val top = written.orderBy(desc("score"), asc("doc_id")).head(1)
      val topJson = top.headOption.map(r =>
        s""","top_doc":${r.getAs[Number]("doc_id").longValue},""" +
          s""""top_score":${r.getAs[Double]("score")}""").getOrElse("")
      println(s"""{"rows":${written.count()},"terms":${terms.length}""" +
        topJson + s""","out":${jsonStr(out)}}""")
    }
  }

  /** `graft.Main fingerprint --in PARQUET --out OUT [--index]` — c57's
    * winnowing fingerprints over an arbitrary (doc_id, text) parquet.
    * Default: per-doc digests (the c57 shape). `--index` writes the LONG
    * (fp, doc_id) table instead — the equi-joinable fingerprint index a
    * dedup service keys on (matching docs share fp rows; no body
    * comparison anywhere). */
  private def fingerprint(args: Array[String]): Unit = {
    import graft.operators.TextOps
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      s"input $in must have (doc_id, text) columns, " +
        s"found ${docs.columns.mkString("(", ", ", ")")}")
    val base = docs.select("doc_id", "text")
    if (args.contains("--index")) {
      TextOps.winnowIndex(base).write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      val stats = written.agg(count(lit(1)),
        count_distinct(col("fp")), count_distinct(col("doc_id"))).head()
      println(s"""{"rows":${stats.getLong(0)},"distinct_fp":${stats.getLong(1)},""" +
        s""""docs":${stats.getLong(2)},"out":${jsonStr(out)}}""")
    } else {
      TextOps.winnowProjection(base).write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      // coalesce: sum() is null on an empty output (the chunk-stats rule)
      val stats = written.agg(count(lit(1)),
        coalesce(sum(col("n_fp")), lit(0L))).head()
      println(s"""{"docs":${stats.getLong(0)},""" +
        s""""total_fp":${stats.getLong(1)},"out":${jsonStr(out)}}""")
    }
  }

  /** Rename-aside staged swap of an at-rest parquet directory (the r16
    * ADVICE ordering): live → live__old, staged → live, delete
    * live__old. A crash at any instant leaves either a complete live
    * directory (before/after the middle rename) or both complete
    * siblings (live__old + the staged dir) — never a half directory,
    * never data loss; recovery is renaming one back. Shared by the
    * vector-index and phash-index `--remove` compactions. */
  private def stagedSwap(spark: org.apache.spark.sql.SparkSession,
                         live: String, staged: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val livePath = new org.apache.hadoop.fs.Path(live)
    val oldPath = new org.apache.hadoop.fs.Path(live + "__old")
    fs.delete(oldPath, true) // leftover from a prior crashed swap
    require(fs.rename(livePath, oldPath),
      s"failed to move live directory aside to $oldPath")
    require(fs.rename(new org.apache.hadoop.fs.Path(staged), livePath),
      s"failed to swap staged directory into place at $livePath " +
        s"(previous contents preserved at $oldPath)")
    fs.delete(oldPath, true)
    ()
  }

  /** `graft.Main index --in EMB_PARQUET --out IDXDIR [--m M]
    * [--codebook-from EMB_PARQUET]` — build the at-rest IVF-PQ index of
    * an embedding corpus (the artifact a vector-serving system ships —
    * what `Main fingerprint --index` + d25 are for lexical near-dup):
    * IDXDIR/codebook (cell, centroid) + IDXDIR/codes (vec_id, cell, M
    * PQ codes; no raw floats — the 64× at-rest compression). The
    * codebook trains on --codebook-from when given (point it at the
    * full search universe to reproduce an existing in-memory search),
    * else on --in; either frame needs (vec_id, embedding, label).
    *
    * `--add` (r12) grows an EXISTING index incrementally: the new
    * vectors assign + PQ-quantize against the FROZEN at-rest codebook
    * (Similarity.quantizeAgainstCodebook — the same expressions the
    * full build runs, so add-then-query ≡ rebuild-from-scratch under
    * that codebook) and append to IDXDIR/codes; the codebook is never
    * retrained, the already-quantized corpus never rewritten, and no
    * raw floats land in the artifact. New vec_ids must be disjoint
    * from the index (a duplicate would serve twice) — checked, loud.
    * `--m`/`--codebook-from` are build-time knobs and are rejected with
    * `--add` (m is read from the existing codes).
    *
    * `--remove` (r15) deletes vectors from the at-rest index — the
    * right-to-erasure operation a training-data index owner must run:
    * `--in` names a (vec_id) parquet of ids to erase; the codes table
    * anti-joins them out and REWRITES (filter-and-compact — no
    * tombstones a query path would have to honor), the codebook stays
    * frozen (survivors' quantization is untouched, so add-then-remove
    * ≡ never-added row-for-row). The rewrite stages to a sibling
    * directory and swaps via the path's FileSystem in rename-aside
    * order (codes → codes__old, compact → codes, delete codes__old):
    * a crash mid-write leaves the old codes intact, and a crash
    * mid-swap leaves a complete directory under `codes` or both
    * complete siblings — never a half directory, never data loss. */
  private def indexCmd(args: Array[String]): Unit = {
    import graft.operators.Similarity
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val add = args.contains("--add")
    val remove = args.contains("--remove")
    require(!(add && remove), "--add and --remove are mutually exclusive")
    val spark = GraftSession.get()
    def embFrame(path: String) = {
      val e = spark.read.parquet(path)
      require(Seq("vec_id", "embedding", "label").forall(e.columns.contains),
        s"input $path must have (vec_id, embedding, label) columns, " +
          s"found ${e.columns.mkString("(", ", ", ")")}")
      e
    }
    if (remove) {
      require(opt(args, "--m").isEmpty && opt(args, "--codebook-from").isEmpty,
        "--remove filters the existing codes and never retrains: " +
          "--m/--codebook-from are build-only flags")
      val ids = spark.read.parquet(in)
      require(ids.columns.contains("vec_id"),
        s"--remove input $in must have a vec_id column, " +
          s"found ${ids.columns.mkString("(", ", ", ")")}")
      val codes = spark.read.parquet(s"$out/codes")
      val before = codes.count()
      val kept = codes.join(ids.select("vec_id").distinct(),
        Seq("vec_id"), "left_anti")
      // stage -> swap: the anti-join materializes fully into the sibling
      // dir BEFORE the live codes directory is touched. Swap order is
      // rename-aside, rename-in, delete (r16, ADVICE): the previous
      // delete-then-rename had a crash window with NO live codes dir.
      // Now a crash at any instant leaves either a complete live codes
      // (before/after the middle rename) or both complete siblings
      // (codes__old + codes__compact) — recovery is renaming one back.
      val tmp = s"$out/codes__compact"
      kept.write.mode("overwrite").parquet(tmp)
      stagedSwap(spark, live = s"$out/codes", staged = tmp)
      val after = spark.read.parquet(s"$out/codes").count()
      println(s"""{"removed":${before - after},"vectors":$after,""" +
        s""""out":${jsonStr(out)}}""")
    } else if (add) {
      require(opt(args, "--m").isEmpty && opt(args, "--codebook-from").isEmpty,
        "--add derives m from the existing index and never retrains: " +
          "--m/--codebook-from are build-only flags")
      val cb = spark.read.parquet(s"$out/codebook")
      val existing = spark.read.parquet(s"$out/codes")
      val m = existing.select(size(col("codes"))).head().getInt(0)
      val newEmbs = embFrame(in)
      val clash = newEmbs.select("vec_id")
        .join(existing.select("vec_id"), "vec_id").count()
      require(clash == 0L,
        s"--add: $clash vec_ids are already present in the index " +
          s"(a duplicate would be served twice); re-id or drop them first")
      // duplicates WITHIN the batch would append twice just the same
      val selfDup = newEmbs.count() - newEmbs.select("vec_id").distinct().count()
      require(selfDup == 0L,
        s"--add: $selfDup duplicate vec_ids inside the batch itself " +
          s"(a duplicate would be served twice); dedupe the batch first")
      val added = Similarity.quantizeAgainstCodebook(newEmbs, cb, m)
      added.write.mode("append").parquet(s"$out/codes")
      val stats = spark.read.parquet(s"$out/codes")
        .agg(count(lit(1)), count_distinct(col("cell"))).head()
      println(s"""{"added":${newEmbs.count()},"vectors":${stats.getLong(0)},""" +
        s""""cells_used":${stats.getLong(1)},"m":$m,"out":${jsonStr(out)}}""")
    } else {
      val m = opt(args, "--m").map(_.toInt).getOrElse(4)
      require(m >= 1, s"--m must be >= 1, got $m")
      val (cb, codes) = Similarity.buildVectorIndex(embFrame(in), m,
        opt(args, "--codebook-from").map(embFrame))
      cb.write.mode("overwrite").parquet(s"$out/codebook")
      codes.write.mode("overwrite").parquet(s"$out/codes")
      val stats = spark.read.parquet(s"$out/codes")
        .agg(count(lit(1)), count_distinct(col("cell"))).head()
      val nCells = spark.read.parquet(s"$out/codebook").count()
      println(s"""{"vectors":${stats.getLong(0)},"cells":$nCells,""" +
        s""""cells_used":${stats.getLong(1)},"m":$m,"out":${jsonStr(out)}}""")
    }
  }

  /** `graft.Main query --index IDXDIR --queries EMB_PARQUET --out OUT
    * [--k K] [--nprobe N]` — serve top-k ANN from `Main index`
    * artifacts: candidates are touched only as (cell, codes) rows,
    * reconstructed row-locally from the broadcast codebook; scoring and
    * ranking are exactly ivfPqSearch's (CLI-spec-pinned). */
  private def queryCmd(args: Array[String]): Unit = {
    import graft.operators.Similarity
    val idx = opt(args, "--index").getOrElse(sys.error("--index required"))
    val qp = opt(args, "--queries").getOrElse(sys.error("--queries required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val k = opt(args, "--k").map(_.toInt).getOrElse(5)
    val nprobe = opt(args, "--nprobe").map(_.toInt).getOrElse(1)
    val spark = GraftSession.get()
    val queries = spark.read.parquet(qp)
    require(Seq("vec_id", "embedding").forall(queries.columns.contains),
      s"queries $qp must have (vec_id, embedding) columns, " +
        s"found ${queries.columns.mkString("(", ", ", ")")}")
    Similarity.queryVectorIndex(queries.select("vec_id", "embedding"),
      spark.read.parquet(s"$idx/codebook"), spark.read.parquet(s"$idx/codes"),
      k, nprobe)
      .write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val stats = written.agg(count(lit(1)),
      count_distinct(col("query_id"))).head()
    println(s"""{"rows":${stats.getLong(0)},"queries":${stats.getLong(1)},""" +
      s""""k":$k,"nprobe":$nprobe,"out":${jsonStr(out)}}""")
  }

  /** `graft.Main moments --in EMB_PARQUET --out OUT` — c45's embedding
    * dataset card over an arbitrary (vec_id, embedding) parquet, written
    * as the SERVING ARTIFACT d16/streamWhiten consumes: per-dim exact
    * integer sums plus the derived full-precision mean and σ (the
    * artifact a stream-side whitener inlines as plan literals — compute
    * once at rest, ship to ingest). */
  private def moments(args: Array[String]): Unit = {
    import graft.operators.Similarity
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    val embs = spark.read.parquet(in)
    require(embs.columns.contains("embedding"),
      s"input $in must have an embedding column, " +
        s"found ${embs.columns.mkString("(", ", ", ")")}")
    val mean = col("sum_v4").cast("double") / 10000.0 / col("n")
    Similarity.fixedPointMoments(embs)
      .select(col("pos"), col("n"), col("sum_v4"),
        col("sum_sq4").cast("string").as("sum_sq4"),
        col("min_v4"), col("max_v4"), mean.as("mean"),
        sqrt(col("sum_sq4").cast("double") / 1e8 / col("n") - mean * mean)
          .as("sd"))
      .write.mode("overwrite").parquet(out)
    val stats = spark.read.parquet(out).agg(count(lit(1))).head()
    println(s"""{"dims":${stats.getLong(0)},"out":${jsonStr(out)}}""")
  }

  /** `graft.Main diff --old PARQUET --new PARQUET --out OUT` — the
    * dataset-release audit (c49's snapshotDiff) between two corpus
    * versions: per-doc status added/removed/changed/unchanged by content
    * hash, written as parquet plus one JSON stats line. One full-outer
    * equi-join on the id key; md5s computed scan-side. Inputs are keyed
    * by doc_id: a duplicated id yields one status row per old×new
    * pairing (the stats line reports rows AND distinct docs, so an
    * id-uniqueness defect in a release is visible, not hidden). */
  private def diffCmd(args: Array[String]): Unit = {
    import graft.operators.TextOps
    val oldP = opt(args, "--old").getOrElse(sys.error("--old required"))
    val newP = opt(args, "--new").getOrElse(sys.error("--new required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    def docsOf(p: String) = {
      val df = spark.read.parquet(p)
      require(Seq("doc_id", "text").forall(df.columns.contains),
        s"$p must have (doc_id, text) columns, " +
          s"found ${df.columns.mkString("(", ", ", ")")}")
      df.select("doc_id", "text")
    }
    TextOps.snapshotDiff(docsOf(oldP), docsOf(newP))
      .write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val stats = written.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = written.agg(count_distinct(col("doc_id"))).head().getLong(0)
    def n(s: String) = stats.getOrElse(s, 0L)
    println(s"""{"rows":${stats.values.sum},"docs":$docs,""" +
      s""""added":${n("added")},"removed":${n("removed")},""" +
      s""""changed":${n("changed")},"unchanged":${n("unchanged")},""" +
      s""""out":${jsonStr(out)}}""")
  }

  /** `graft.Main whiten --in EMB_PARQUET --out OUT` — c47's whitening
    * over an arbitrary (vec_id, embedding) parquet: z-normalize every
    * vector with the corpus's own per-dimension moments and write the
    * long form (vec_id, pos, z_r). The moments travel as one broadcast
    * struct-array row, so the corpus is never shuffled. */
  private def whiten(args: Array[String]): Unit = {
    import graft.operators.Similarity
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    val embs = spark.read.parquet(in)
    require(Seq("vec_id", "embedding").forall(embs.columns.contains),
      s"input $in must have (vec_id, embedding) columns, " +
        s"found ${embs.columns.mkString("(", ", ", ")")}")
    Similarity.whitenEmbeddings(embs).write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    // coalesce: max(pos) is null on an empty input (the chunk-stats rule)
    val stats = written.agg(count(lit(1)),
      count_distinct(col("vec_id")), coalesce(max(col("pos")) + 1, lit(0))).head()
    println(s"""{"rows":${stats.getLong(0)},"vectors":${stats.getLong(1)},""" +
      s""""dims":${stats.getInt(2)},"out":${jsonStr(out)}}""")
  }

  /** `graft.Main codec --in MEDIA_PARQUET --out OUT [--resize WxH]` —
    * the c12/c51 multimodal path over an arbitrary (doc_id, media_type,
    * payload) parquet: decode every record through the REAL parsers
    * (PGM/WAV/Y4M binary parse; ImageIO inflate for png) and write the
    * typed feature frame; with --resize, write the re-encoded resampled
    * containers instead. Row-local either way — the CLI inherits the
    * operators' zero-shuffle plan. One JSON stats line on stdout. */
  private def codec(args: Array[String]): Unit = {
    import graft.operators.{MediaRecord, Multimodal}
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val spark = GraftSession.get()
    import spark.implicits._
    val df = spark.read.parquet(in)
    require(Seq("doc_id", "media_type", "payload").forall(df.columns.contains),
      s"input $in must have (doc_id, media_type, payload) columns, " +
        s"found ${df.columns.mkString("(", ", ", ")")}")
    val recs = df.select("doc_id", "media_type", "payload").as[MediaRecord]
    opt(args, "--resize") match {
      case Some(wh) =>
        // nonEmpty guards the vacuous forall ("x8" splits to ["", "8"]);
        // >= 1 rejects "0x0" here at the CLI seam instead of deep in resize
        val dims = wh.split("x")
        require(dims.length == 2 &&
            dims.forall(d => d.nonEmpty && d.length <= 9 && d.forall(_.isDigit)) &&
            dims.forall(_.toInt >= 1),
          s"--resize must be WxH with W,H >= 1 (e.g. 64x64), got $wh")
        Multimodal.resize(recs, dims(0).toInt, dims(1).toInt)
          .toDF().write.mode("overwrite").parquet(out)
      case None =>
        recs.mapPartitions(_.map(Multimodal.decode))
          .toDF().write.mode("overwrite").parquet(out)
    }
    val written = spark.read.parquet(out)
    val byType = written.groupBy("media_type").count().collect()
      .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted.mkString(",")
    println(s"""{"rows":${written.count()},"by_type":{$byType},"out":${jsonStr(out)}}""")
  }

  /** `graft.Main semdedup --in EMB_PARQUET --out OUT [--threshold T]
    * [--codebook CB_PARQUET]` — c43's semantic dedup over an arbitrary
    * (vec_id, embedding[, label]) parquet: assign each vector to its
    * nearest codebook cell, drop it iff an above-threshold cell-mate
    * sits strictly FARTHER from the centroid — the far member survives
    * (SemDeDup's keep-the-far-member rule: the centroid already
    * summarizes the cluster core). The codebook is read from `--codebook` (cell,
    * centroid — e.g. a trained artifact) or derived from the input's
    * `label` column. Writes (vec_id, cell, cent_r, keep) parquet plus
    * one JSON stats line. The assignment frame is persisted for the
    * run — it feeds three plan branches (c43's memo argument). */
  private def semdedup(args: Array[String]): Unit = {
    import graft.operators.Similarity
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.35)
    val spark = GraftSession.get()
    val embs = spark.read.parquet(in)
    val cb = opt(args, "--codebook").map { p =>
      val read = spark.read.parquet(p)
      // same seam rule as the label check below: a mispointed artifact
      // must fail here, not as an AnalysisException inside assignment
      require(Seq("cell", "centroid").forall(read.columns.contains),
        s"--codebook $p must have (cell, centroid) columns, " +
          s"found ${read.columns.mkString("(", ", ", ")")}")
      read
    }.getOrElse {
      // fail at the CLI seam, not as an unresolved-column AnalysisException
      // deep inside the codebook aggregation (the d13 empty-artifact rule)
      require(embs.columns.contains("label"),
        s"input $in has no `label` column — pass a trained --codebook " +
          "(cell, centroid) parquet instead")
      Similarity.labelCodebookOf(embs)
    }
    val assigned = Similarity.assignCells(
      embs.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      cb, maxProbe = 1)
      .select(col("vec_id"), col("v"), col("cell"), col("ccos"))
      .persist()
    try {
      Similarity.dominanceVerdicts(assigned, threshold)
        .write.mode("overwrite").parquet(out)
      val stats = spark.read.parquet(out)
        .agg(count(lit(1)),
          coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L))).head()
      val total = stats.getLong(0)
      val kept = stats.getLong(1)
      println(s"""{"vectors":$total,"kept":$kept,"dropped":${total - kept},""" +
        s""""threshold":$threshold,"out":${jsonStr(out)}}""")
    } finally assigned.unpersist()
  }

  /** `graft.Main chunk --in PARQUET --out OUT [--size N] [--stride N]` —
    * c39's context-window splitter over an arbitrary (doc_id, text)
    * parquet (typically `curate`'s output): fixed-size token chunks every
    * `stride` tokens, short tail kept. Writes (doc_id, chunk_id,
    * chunk_tokens, chunk_text) parquet plus one JSON stats line. */
  private def chunk(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val size = opt(args, "--size").map(_.toInt).getOrElse(32)
    val stride = opt(args, "--stride").map(_.toInt).getOrElse(24)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in).select("doc_id", "text")
    graft.operators.TextOps.chunkDocs(docs, size, stride)
      .write.mode("overwrite").parquet(out)
    val written = spark.read.parquet(out)
    val stats = written
      .agg(count(lit(1)), coalesce(sum(col("chunk_tokens")), lit(0L))).head()
    println(s"""{"docs":${docs.count()},"chunks":${stats.getLong(0)},""" +
      s""""chunk_tokens":${stats.getLong(1)},"size":$size,""" +
      s""""stride":$stride,"out":${jsonStr(out)}}""")
  }

  /** `graft.Main shard --in PARQUET --out OUT [--prefix-len N]` — c40's
    * deterministic training-order shuffle: content-hash shard + dense
    * in-shard position for every doc, written PARTITIONED BY shard (one
    * directory per output shard — the layout a training loader consumes,
    * and the write path that keeps each shard's file reducer-local).
    * Reproducible across re-runs and engines: no RNG state anywhere. */
  private def shard(args: Array[String]): Unit = {
    if (args.contains("--verify")) { shardVerify(args); return }
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val prefixLen = opt(args, "--prefix-len").map(_.toInt).getOrElse(1)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in)
    // shuffleShard appends (h, shard, pos) in place — every input column
    // rides the one shard exchange, no join-back
    val sharded = graft.operators.TextOps.shuffleShard(docs, prefixLen)
      .persist() // feeds the write AND the stats counts below
    try {
      sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
      // optional RELEASE MANIFEST (r17 — c112's surface): per shard its
      // doc count, token mass and order-invariant content digests, the
      // artifact a consumer verifies a downloaded shard against
      val manifestJson = opt(args, "--manifest").map { mp =>
        graft.operators.TextOps.shardManifestOn(docs, prefixLen)
          .coalesce(1).write.mode("overwrite").parquet(mp)
        s""","manifest":${jsonStr(mp)}"""
      }.getOrElse("")
      // stats from the pre-write frame: a read-back would re-infer the
      // partition column's type and can coerce digit-only hex shards to
      // numbers (merging '07' and '7')
      val stats = sharded
        .agg(count(lit(1)), count_distinct(col("shard"))).head()
      println(s"""{"docs":${stats.getLong(0)},"shards":${stats.getLong(1)},""" +
        s""""prefix_len":$prefixLen$manifestJson,"out":${jsonStr(out)}}""")
    } finally sharded.unpersist()
  }

  /** `graft.Main shard --verify --in DOCS --manifest MANIFEST
    * [--prefix-len L]` — the CONSUMER half of the c112 release story
    * (r18): recompute the per-shard manifest from the downloaded docs
    * (shard re-DERIVED from content via the shared withShardKey
    * convention — a doc moved to the wrong shard directory is caught,
    * not trusted) and diff against the publisher's manifest. Prints
    * one JSON verdict line: ok, per-side shard counts, and up to 10
    * offending shard keys — any missing, duplicated, altered or
    * foreign doc moves a digest, so `"ok":true` certifies the download
    * at doc grain. */
  private def shardVerify(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val mp = opt(args, "--manifest")
      .getOrElse(sys.error("--verify requires --manifest"))
    val prefixLen = opt(args, "--prefix-len").map(_.toInt).getOrElse(1)
    val spark = GraftSession.get()
    val docs = spark.read.parquet(in).select("doc_id", "text")
    // persist the recomputed manifest (r19 ADVICE): it is one shard-grain
    // aggregate over the whole download — without the persist the join
    // and each count() would re-scan the corpus
    val got = graft.operators.TextOps.shardManifestOn(docs, prefixLen).persist()
    val want = spark.read.parquet(mp).persist()
    try {
      val cols = Seq("n_docs", "n_tokens", "digest1", "digest2")
      val bad = got.as("g").join(want.as("w"), Seq("shard"), "full_outer")
        .filter(cols.map(c => !(col(s"g.$c") <=> col(s"w.$c"))).reduce(_ || _))
        .select("shard").collect().map(_.getString(0)).sorted
      val nGot = got.count(); val nWant = want.count()
      println(s"""{"ok":${bad.isEmpty},"shards_data":$nGot,""" +
        s""""shards_manifest":$nWant,"bad":${bad.length},""" +
        s""""bad_shards":${bad.take(10).map(jsonStr).mkString("[", ",", "]")},""" +
        s""""in":${jsonStr(in)},"manifest":${jsonStr(mp)}}""")
    } finally { got.unpersist(); want.unpersist() }
  }

  /** `graft.Main vocab --in DATA_DIR --out OUT_DIR [--k N]` — c34's
    * corpus vocabulary (term + document frequency, deterministic top-k
    * cut), written as parquet plus one JSON stats line. The
    * tokenizer-training precursor over a curated corpus. */
  private def vocab(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val k = opt(args, "--k").map(_.toInt).getOrElse(100)
    val unicode = args.contains("--unicode")
    val stripPunct = args.contains("--strip-punct")
    require(unicode || !stripPunct, "--strip-punct requires --unicode")
    val spark = GraftSession.get()
    // --unicode: the NFC/Unicode-whitespace tokenizer variant (SURVEY §2
    // tokenizer note) instead of the gate's engine-exact ASCII split
    val v = (if (unicode)
      graft.operators.TextOps.vocabTopkOn(
        graft.Tables.documents(spark, in), k,
        t => graft.functions.UnicodeTokenize.uniTokens(t, stripPunct))
    else graft.operators.TextOps.c34VocabTopk(spark, in, k)).persist()
    try {
      v.write.mode("overwrite").parquet(out)
      val n = v.count()
      // the top term is corpus-controlled text: JSON-escape it (every
      // other interpolated value on these stats lines is operator-set)
      val top = v.take(1).headOption.map { r =>
        // full JSON string escaping: backslash, quote AND control chars
        // (a tab/CR can survive whitespace-only tokenization and would
        // otherwise make the stats line invalid JSON)
        val sb = new StringBuilder("\"")
        r.getString(0).foreach {
          case '\\' => sb.append("\\\\")
          case '"' => sb.append("\\\"")
          case ch if ch < 0x20 => sb.append(f"\\u${ch.toInt}%04x")
          case ch => sb.append(ch)
        }
        sb.append('"').toString -> r.getLong(1)
      }.getOrElse("null" -> 0L)
      println(s"""{"terms":$n,"top_term":${top._1},""" +
        s""""top_tf":${top._2},"out":${jsonStr(out)}}""")
    } finally v.unpersist()
  }

  /** `graft.Main ingest --existing DATA_DIR --incoming PARQUET --out OUT
    *   [--threshold J] [--new-only]` — incremental dedup of an incoming
    * batch against the existing corpus (c37's generic entry point):
    * writes per-doc statuses (exact_dup/near_dup/new + dup_of) — or, with
    * `--new-only`, just the genuinely new incoming docs with their full
    * columns — and prints one JSON counts line. The incoming batch is
    * shingled once per run and cached for it. */
  private def ingest(args: Array[String]): Unit = {
    val ex = opt(args, "--existing").getOrElse(sys.error("--existing required"))
    val inc = opt(args, "--incoming").getOrElse(sys.error("--incoming required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.7)
    val newOnly = args.contains("--new-only")
    val spark = GraftSession.get()
    val incoming = spark.read.parquet(inc)
    // persisted: the status pipeline feeds the write plus three counts.
    // The existing side is exactly the documents table, so its shingles
    // come from the memoized corpus shingle table (computed once per JVM
    // per dir) — without this the corpus-wide shingle subtree would
    // recompute on every ingest run
    val statuses = graft.operators.Dedup.incrementalDedup(
      incoming.select(col("doc_id"), col("text")),
      Tables.documents(spark, ex).select(col("doc_id"), col("text")),
      threshold,
      existingShingles = Some(spark.read.parquet(
        graft.operators.Dedup.shingleTablePath(spark, ex)))).persist()
    try {
      val result =
        if (newOnly) incoming.join(statuses.filter(col("status") === "new"),
          Seq("doc_id"), "left_semi")
        else statuses
      result.write.mode("overwrite").parquet(out)
      val nExact = statuses.filter(col("status") === "exact_dup").count()
      val nNear = statuses.filter(col("status") === "near_dup").count()
      val nNew = statuses.filter(col("status") === "new").count()
      println(s"""{"incoming":${nExact + nNear + nNew},"exact_dup":$nExact,""" +
        s""""near_dup":$nNear,"new":$nNew,"out":${jsonStr(out)}}""")
    } finally statuses.unpersist()
  }

  /** `graft.Main dedup --in DATA_DIR --out OUT_DIR [--mode
    * exact|minhash|simhash] [--threshold J] [--max-hamming H]` — writes the
    * surviving (canonical) documents as parquet and prints one JSON stats
    * line. The batch flow a training-data pipeline runs before tokenizing. */
  private def dedup(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val mode = opt(args, "--mode").getOrElse("minhash")
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.5)
    val maxHamming = opt(args, "--max-hamming").map(_.toInt).getOrElse(3)
    // 4-segment banding only guarantees recall for hamming <= 3
    // (pigeonhole): a larger H would silently miss pairs, so refuse it
    require(maxHamming >= 0 && maxHamming <= 3,
      s"--max-hamming must be 0..3 (4x16-bit segment banding), got $maxHamming")
    val spark = GraftSession.get()
    // --pairs (r18): write the near-dup PAIR surface instead of the
    // survivor set — the audit view (which docs matched which, at what
    // similarity) a dedup-policy review reads, and the diagnostic for
    // candidate-density questions at scale (SURVEY §8p: the c2 wall is
    // pair-count-driven; this verb puts the count next to the claim)
    if (args.contains("--pairs")) {
      require(mode == "minhash",
        s"--pairs currently supports --mode minhash, got $mode")
      val pairs = graft.operators.Dedup.c2DedupMinhash(spark, in)
      pairs.write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      val n = written.count()
      val above = written.filter(col("jaccard") >= threshold).count()
      println(s"""{"mode":"$mode","pairs":$n,""" +
        s""""pairs_at_threshold":$above,"threshold":$threshold,""" +
        s""""out":${jsonStr(out)}}""")
      return
    }
    val survivors = graft.operators.Dedup.dedupDocuments(
      spark, in, mode, threshold, maxHamming)
    survivors.write.mode("overwrite").parquet(out)
    val total = Tables.documents(spark, in).count()
    val kept = spark.read.parquet(out).count()
    println(s"""{"mode":"$mode","docs":$total,"survivors":$kept,""" +
      s""""dropped":${total - kept},"out":${jsonStr(out)}}""")
  }

  /** Benchmark decontamination against a held-out eval set: flags (and
    * optionally drops) every training doc sharing an 8-token shingle with
    * any eval doc. `--eval` is a parquet of (doc_id, text); `--in` is a
    * data dir with a documents table. Bloom-prefiltered (c27's path). */
  private def decontam(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val eval = opt(args, "--eval").getOrElse(sys.error("--eval required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val fpp = opt(args, "--bloom-fpp").map(_.toDouble).getOrElse(0.01)
    val drop = args.contains("--drop")
    val report = args.contains("--report")
    require(!(drop && report), "--drop and --report are exclusive modes")
    val spark = GraftSession.get()
    val docsFull = Tables.documents(spark, in)
    val docs = docsFull.select("doc_id", "text")
    val evalDocs = spark.read.parquet(eval).select("doc_id", "text")
    if (report) {
      // --report: the EVAL-side view (c68) — per benchmark doc, how
      // compromised it is — instead of the training-side flag table
      graft.operators.TextOps.contamReportOn(docs, evalDocs)
        .write.mode("overwrite").parquet(out)
      val written = spark.read.parquet(out)
      val stats = written.agg(count(lit(1)),
        coalesce(sum(when(col("n_hit_docs") > 0, 1L).otherwise(0L)), lit(0L)))
        .head()
      println(s"""{"eval_docs":${stats.getLong(0)},""" +
        s""""compromised":${stats.getLong(1)},"out":${jsonStr(out)}}""")
      return
    }
    // persisted: the flag pipeline (bloom build + verify join) feeds both
    // the write and the contaminated count — one execution, not two
    val flagged = graft.operators.TextOps.decontaminate(docs, evalDocs, fpp)
      .persist()
    val result =
      // --drop emits FULL documents (all corpus columns), matching dedup
      if (drop) docsFull.join(flagged.filter(!col("contaminated")),
        Seq("doc_id"), "left_semi")
      else flagged
    result.write.mode("overwrite").parquet(out)
    val total = docs.count()
    val contaminated = flagged.filter(col("contaminated")).count()
    flagged.unpersist()
    println(s"""{"docs":$total,"contaminated":$contaminated,""" +
      s""""dropped":${if (drop) contaminated else 0},"out":${jsonStr(out)}}""")
  }

  /** End-to-end corpus curation — the pipeline a training-data team runs,
    * each stage one of the oracled/spec'd operators, composed by doc_id
    * semi-joins (so each stage stays independently verifiable):
    *   1. quality gate (c7's keep rule),
    *   2. near-dup dedup to cluster canonicals (minhash + CC),
    *   3. optional eval-set decontamination (c27's bloom path, --eval),
    *   4. leakage-safe split assignment (c30 — near-dups co-travel).
    * Emits the curated parquet (full doc columns + split) and a one-line
    * JSON of per-stage counts. */
  private def curate(args: Array[String]): Unit = {
    val in = opt(args, "--in").getOrElse(sys.error("--in required"))
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val eval = opt(args, "--eval")
    val fpp = opt(args, "--bloom-fpp").map(_.toDouble).getOrElse(0.01)
    val threshold = opt(args, "--threshold").map(_.toDouble).getOrElse(0.5)
    val spark = GraftSession.get()
    import graft.operators.{Dedup, TextOps}
    val docs = Tables.documents(spark, in)
    val total = docs.count()

    // each stage frame is persisted: its plan embeds the previous stages'
    // pipelines, and it feeds both the next stage and its own count —
    // without the persist the heavy dedup/decontam subtrees execute 2-3x
    val quality = TextOps.c7TextQuality(spark, in)
      .filter(col("keep")).select("doc_id")
    val afterQuality = docs.join(quality, Seq("doc_id"), "left_semi").persist()
    val nQuality = afterQuality.count()

    // canonical = min doc_id per near-dup cluster AMONG QUALITY SURVIVORS,
    // not over the full corpus: a full-corpus canonical that itself failed
    // the quality gate would take its whole cluster down with it (every
    // member semi-joins against a doc that no longer exists). Labels come
    // from the same memoized (dir, threshold)-keyed cluster table as
    // c19/c30, so a curate run still clusters exactly once; docs without
    // near-dups are their own singleton cluster (coalesce, c19's rule).
    val lbl = spark.read.parquet(Dedup.clusterTablePath(spark, in, threshold))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val canonicals = afterQuality.select("doc_id")
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .groupBy("cluster_id").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val afterDedup = afterQuality.join(canonicals, Seq("doc_id"), "left_semi")
      .persist()
    val nDedup = afterDedup.count()

    val afterDecontam = (eval match {
      case Some(evalPath) =>
        val evalDocs = spark.read.parquet(evalPath).select("doc_id", "text")
        val clean = TextOps.decontaminate(
            afterDedup.select("doc_id", "text"), evalDocs, fpp)
          .filter(!col("contaminated")).select("doc_id")
        afterDedup.join(clean, Seq("doc_id"), "left_semi")
      case None => afterDedup
    }).persist()
    val nClean = afterDecontam.count()

    // split at the SAME threshold the dedup stage clustered at — the
    // memoized cluster table is (dir, threshold)-keyed, so this reuses
    // the exact clustering the canonicals came from
    val splits = Dedup.c30ClusterSplit(spark, in, threshold)
      .select("doc_id", "split")
    val curatedBase = afterDecontam.join(splits, "doc_id")
    // optional terminal stages (r17 — the full training-data pipeline in
    // one verb): --shards L appends the c40 shard assignment columns
    // (h, shard, pos) to the curated output; --pack-budget B +
    // --pack-out P writes the c76 FFD pack table of the curated set
    val shardLen = opt(args, "--shards").map(_.toInt)
    // --shards is a hex-prefix LENGTH (16^L shards), not a shard count
    // — say so loudly before shuffleShard's generic bound fires (r17
    // review: `--shards 16` must not read like "16 shards")
    shardLen.foreach(l => require(l >= 1 && l <= 8,
      s"--shards is the shard-key HEX PREFIX LENGTH (16^L shards: " +
        s"1→16, 2→256, ...), must be in [1, 8], got $l"))
    val packBudget = opt(args, "--pack-budget").map(_.toLong)
    val packOut = opt(args, "--pack-out")
    require(packBudget.isDefined == packOut.isDefined,
      "--pack-budget and --pack-out must be given together")
    val curated = shardLen match {
      case Some(l) => TextOps.shuffleShard(curatedBase, l)
      case None => curatedBase
    }
    curated.write.mode("overwrite").parquet(out)
    val nOut = spark.read.parquet(out).count()
    val shardJson = shardLen.map { _ =>
      val n = spark.read.parquet(out).select("shard").distinct().count()
      s""","shards":$n"""
    }.getOrElse("")
    val packJson = (packBudget, packOut) match {
      case (Some(b), Some(p)) =>
        TextOps.packFfdOn(curatedBase.select("doc_id", "text"), b)
          .write.mode("overwrite").parquet(p)
        val packed = spark.read.parquet(p)
        val nPacks = packed.select("shard", "pack_id").distinct().count()
        s""","packs":$nPacks,"pack_budget":$b,"pack_out":${jsonStr(p)}"""
      case _ => ""
    }
    Seq(afterQuality, afterDedup, afterDecontam).foreach(_.unpersist())
    println(s"""{"docs":$total,"after_quality":$nQuality,""" +
      s""""after_dedup":$nDedup,"after_decontam":$nClean,""" +
      s""""curated":$nOut$shardJson$packJson,"out":${jsonStr(out)}}""")
  }

  private def stream(args: Array[String]): Unit = {
    val inDir = opt(args, "--in-dir")
    val host = opt(args, "--host").getOrElse("127.0.0.1")
    val port = opt(args, "--port")
    require(inDir.isDefined != port.isDefined,
      "exactly one of --port (socket mode) or --in-dir (file mode) required")
    val ckpt = opt(args, "--checkpoint")
    // file sources replay from the checkpoint; without one a re-run would
    // reprocess every file AND reuse micro-batch ids (duplicate + clobber
    // the epoch-named output) — so the file mode demands it, and the
    // non-replayable socket rejects it rather than pretend resume works
    require(inDir.isEmpty || ckpt.isDefined,
      "--in-dir (restartable file mode) requires --checkpoint")
    require(ckpt.isEmpty || inDir.isDefined,
      "--checkpoint is only meaningful with --in-dir (a socket replays nothing)")
    val out = opt(args, "--out").getOrElse(sys.error("--out required"))
    val maxRows = opt(args, "--max-rows").map(_.toInt).getOrElse(4096)
    val maxIpc = opt(args, "--max-ipc").map(_.toLong).getOrElse(5L * 1024 * 1024)
    val codec = opt(args, "--codec").getOrElse("none")
    ArrowIpc.validateCodec(codec) // fail at CLI parse, not first micro-batch
    val seqCol = args.contains("--seq-col")
    val idleMs = opt(args, "--idle-timeout-ms").map(_.toLong)
    // producer batching ≙ bolson --pulsar-batch / --pulsar-batch-max-*
    // (reference: src/bolson/publish/publisher.cpp:265-276): one envelope
    // file per flush instead of one file per message
    val batching = args.contains("--batch")
    val batchOpts = graft.streaming.BatchingOptions(
      maxMessages = opt(args, "--batch-max-messages").map(_.toInt).getOrElse(1000),
      maxBytes = opt(args, "--batch-max-bytes").map(_.toLong).getOrElse(128L * 1024),
      maxDelayMs = opt(args, "--batch-max-delay").map(_.toLong).getOrElse(10L))
    def mkPublisher(batchId: Long): graft.streaming.Publisher =
      if (batching) new graft.streaming.BatchingFilePublisher(out, batchOpts, epoch = batchId)
      else new FilePublisher(out, epoch = batchId)
    val latencyFile = opt(args, "--latency")
    val metricsFile = opt(args, "--metrics")
    val schema: StructType = (opt(args, "--schema"), opt(args, "--schema-ddl")) match {
      case (Some("battery"), _) => JsonConvert.Schemas.battery
      case (Some("trip"), _) => JsonConvert.Schemas.trip
      case (_, Some(ddl)) => StructType.fromDDL(ddl)
      case _ => sys.error("--schema battery|trip or --schema-ddl required")
    }

    val spark = GraftSession.get()
    // classes Janino compiles during the run (JVM-wide: every codegen
    // cache miss); a plan already compiled in this JVM adds none
    def codegenCompiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def codegenCompileNs: Long =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val compilesAtStart = codegenCompiles
    val compileNsAtStart = codegenCompileNs
    // per-batch latency tracking (bolson --latency, src/bolson/latency.h):
    // attached whenever either dump file is requested
    val latencyListener = new graft.metrics.LatencyListener()
    val wantDumps = latencyFile.isDefined || metricsFile.isDefined
    if (wantDumps) spark.streams.addListener(latencyListener)
    // per-stage time decomposition (parse / serialize / publish — bolson
    // latency.h:30-40): accumulators summed task-side, per-batch deltas
    // snapshotted driver-side after each foreachBatch action completes
    val stageTimers =
      if (wantDumps) Some(graft.metrics.StageTimers(spark.sparkContext)) else None
    case class StageSample(batchId: Long, parseMs: Double,
                           serializeMs: Double, publishMs: Double)
    val stageSamples = scala.collection.mutable.ArrayBuffer[StageSample]()
    var lastParse = 0.0; var lastSer = 0.0; var lastPub = 0.0
    // per-stage publish totals across all micro-batches (bolson --metrics)
    var totMsgs = 0L; var totRows = 0L; var totBytes = 0L
    val lines = inDir match {
      case Some(d) => spark.readStream
        .option("maxFilesPerTrigger", "8").text(d)
      case None => spark.readStream.format("socket")
        .option("host", host).option("port", port.get).load()
    }

    // bolson's --arrow-seq-col: contiguous u64 ordering across the whole
    // stream — per micro-batch the driver carries the running offset, and
    // SeqColumn assigns contiguous ids inside the batch without a global
    // sort (per-partition counts + offsets). In restartable file mode the
    // offset seeds from the ALREADY-PUBLISHED output (max seq + 1): the
    // at-rest files are the truth a restart must continue from — a driver
    // variable would reset to 0 and fork the sequence. Both publisher
    // layouts are decoded: one .arrow file per message (plain), and
    // --batch's .arrowbag envelope files holding many length-prefixed
    // messages each (recovery that scanned only .arrow would find nothing
    // after a --batch run, reseed at 0, and emit duplicate seqs).
    // Contiguity assumes the previous run EXITED CLEANLY (AvailableNow
    // drained and committed): a run killed between publishing part of a
    // micro-batch and its checkpoint commit will replay that batch with
    // fresh seqs above the partially-published ones while overwriting the
    // same epoch-named files — at-least-once delivery, monotone but
    // possibly gapped seqs (the checkpoint, not the output dir, is what
    // records commit points).
    val publishedFiles: Seq[String] =
      Option(new java.io.File(out).listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith(".arrow") ||
          f.getName.endsWith(".arrowbag"))
        .map(_.getAbsolutePath).sorted
    var seqOffset: Long =
      if (seqCol && inDir.isDefined && publishedFiles.nonEmpty) {
        import spark.implicits._
        val withSeq = schema.add("seq", org.apache.spark.sql.types.LongType)
        val published = spark.read.format("binaryFile")
          .load(publishedFiles: _*)
          .select(col("path"), col("content")).as[(String, Array[Byte])]
          .flatMap { case (path, b) =>
            if (path.endsWith(".arrowbag"))
              // Files.write is not atomic: a crash mid-flush leaves a
              // partial envelope whose decode throws (Magic require /
              // buffer underflow). The restart contract is at-least-once
              // — it tolerates replay, so it must also tolerate one torn
              // tail file: skip it loudly and seed from the decodable
              // remainder rather than refusing to start.
              try graft.streaming.BatchEnvelope.decode(b)
              catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(
                    s"[graft] WARN: seq recovery skipping undecodable " +
                      s"envelope $path (truncated write?): ${e.getMessage}")
                  Seq.empty
              }
            else Seq(graft.ipc.IpcMessage(0L, 0L, b.length.toLong, b))
          }
        ArrowIpc.deserialize(spark, published, withSeq)
          .agg(coalesce(max(col("seq")) + 1L, lit(0L))).head().getLong(0)
      } else 0L
    @volatile var lastProgress = System.currentTimeMillis()
    // bolson parses with UnexpectedFieldBehavior::Error unconditionally
    // (parse/arrow.cpp:89); strict is therefore the CLI default, with
    // --no-strict ignoring unexpected fields. Both modes run one
    // converter with the check inline, so they cost the same (see the usage)
    val strict = !args.contains("--no-strict")
    val query = StreamPipeline.convert(lines, schema, strict).writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist exists ONLY for the retry-safe df.count() that keeps seq
        // contiguity; without --seq-col the batch is consumed exactly once
        // and caching it would be a pure memory tax
        val df = if (seqCol) batch.toDF().persist() else batch.toDF()
        try {
          val withSeq =
            if (!seqCol) df
            else SeqColumn.withSeqInArrivalOrder(df)
              .withColumn("seq", col("seq") + seqOffset)
          // epoch = micro-batch id: batch ids restart per serialize() call,
          // so files would overwrite across micro-batches without it
          val stats = graft.streaming.Publish.run(
            ArrowIpc.serialize(withSeq, maxRows, maxIpc, codec, stageTimers),
            () => mkPublisher(batchId), stageTimers)
          stageTimers.foreach { st =>
            // accumulators are totals; the per-batch sample is the delta
            // since the previous micro-batch (foreachBatch runs serially
            // on the driver, so this bookkeeping needs no locking)
            val (p, s, u) = (st.parseMs, st.serializeMs, st.publishMs)
            stageSamples += StageSample(batchId, p - lastParse, s - lastSer, u - lastPub)
            lastParse = p; lastSer = s; lastPub = u
            // same retention cap as LatencyListener: the latency dump
            // joins against at most its newest 1024 samples, and an
            // unbounded buffer would grow the driver heap for the life
            // of a long-running stream
            if (stageSamples.length > 1024)
              stageSamples.remove(0, stageSamples.length - 1024)
          }
          // advance the offset by an EXACT job-result count, not the
          // publish accumulator: retried/speculative tasks re-add to
          // accumulators and would silently break seq contiguity (count()
          // on the cached batch is cheap and retry-safe)
          if (seqCol) seqOffset += df.count()
          totMsgs += stats.messages; totRows += stats.rows; totBytes += stats.bytes
          if (stats.rows > 0) lastProgress = System.currentTimeMillis()
        } finally if (seqCol) { df.unpersist(); () }
        ()
      }
      // restartable file mode: drain everything available then exit —
      // the re-runnable shape; the checkpoint makes the NEXT run skip
      // every file this one processed
      .pipe(w => inDir.fold(w)(_ => w
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())))
      .pipe(w => ckpt.fold(w)(c => w.option("checkpointLocation", c)))
      .start()

    if (inDir.isDefined) query.awaitTermination()
    else idleMs match {
      case Some(t) =>
        while (System.currentTimeMillis() - lastProgress < t) {
          query.processAllAvailable()
          Thread.sleep(100)
        }
        query.stop()
      case None => query.awaitTermination()
    }

    // shutdown dumps (bolson writes its latency/metrics files after the
    // stream drains, src/bolson/stream.cpp + cli.cpp:62-66,92-94)
    latencyFile.foreach { f =>
      // per-batch samples, joined with the per-stage deltas by batch id —
      // the Spark rendering of bolson's per-seq-range latency dump
      val stageById = stageSamples.map(s => s.batchId -> s).toMap
      val rows = latencyListener.samples.map { s =>
        val st = stageById.get(s.batchId)
        s"""{"batch_id":${s.batchId},"input_rows":${s.inputRows},""" +
        s""""add_batch_ms":${s.addBatchMs},"trigger_ms":${s.triggerMs},""" +
        f""""rows_per_sec":${s.rowsPerSec}%.1f,""" +
        s.phases.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
          .mkString(""""phases_ms":{""", ",", "}") +
        st.map(x =>
          f""","parse_ms":${x.parseMs}%.1f,"serialize_ms":${x.serializeMs}%.1f""" +
          f""","publish_ms":${x.publishMs}%.1f""").getOrElse("") + "}"
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        rows.mkString("[", ",", "]")); ()
    }
    metricsFile.foreach { f =>
      val lat = latencyListener.summary
      val latJson = lat.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.1f""" }.mkString(",")
      val stageJson = stageTimers.map(st =>
        f""","parse_ms_total":${st.parseMs}%.1f""" +
        f""","serialize_ms_total":${st.serializeMs}%.1f""" +
        f""","publish_ms_total":${st.publishMs}%.1f""").getOrElse("")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        s"""{"messages_published":$totMsgs,"rows_published":$totRows,""" +
        s""""bytes_published":$totBytes,""" +
        s""""codegen_compiles":${codegenCompiles - compilesAtStart},""" +
        f""""codegen_compile_ms":${(codegenCompileNs - compileNsAtStart) / 1e6}%.1f""" +
        stageJson +
        (if (latJson.nonEmpty) s",$latJson" else "") + "}"); ()
    }
    if (latencyFile.isDefined || metricsFile.isDefined)
      spark.streams.removeListener(latencyListener)
    // no spark.stop(): the session may be shared (getOrCreate); CLI exit
    // tears it down with the JVM
  }
}
