package graft.perfbench

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Extract, MediaRecord, Multimodal, TextOps}

/** The two batch flows. Every end-to-end figure comes from the CLI verbs
  * themselves, `graft.Main pipeline --near-dup` and
  * `graft.Main phash --clusters`, run in this JVM through `Main.main`.
  *
  * Traced runs add an isolation run of each flow: the same operator calls
  * in the same order, with a span around each sub-layer and each
  * sub-layer's result materialised, so the shingle, minhash, hash and pair
  * steps have times and counts of their own. That is not the plan the CLI
  * runs (the CLI's lazy plan is charged to layers from its own jobs, see
  * [[JobLayers]]); the benchmark checks that the isolation run writes the
  * same rows as the CLI. */
object Flows {
  // the CLI defaults of both verbs
  val MinWords = 4
  val Threshold = 0.5
  val PrefixLen = 1
  val MaxHamming = 3

  /** Which layer a `pipeline` job belongs to: the dedup operator's own
    * actions (connected components) are on its call stack; the two writes
    * name their table; every other job continues the layer before it. */
  val ReleaseLayers: Seq[(Regex, String)] = Seq(
    """graft\.operators\.Dedup\$""".r -> "dedup",
    """(?s)InsertIntoHadoopFsRelationCommand.{0,200}?Arguments: \S*/manifest\.parquet,""".r ->
      "textops.manifest",
    """(?s)InsertIntoHadoopFsRelationCommand.{0,200}?Arguments: \S*/released\.parquet,""".r ->
      "textops.shard")

  /** The numbers of `pipeline`'s stats line. Docs that survive extraction
    * and exact dedup are the released ones plus the near duplicates. */
  final case class Release(docsIn: Long, refused: Long, encFlagged: Long,
                           qDropped: Long, exactDups: Long, nearDups: Long,
                           released: Long, shards: Long) {
    def kept: Long = released + nearDups
  }

  /** The numbers of `phash --clusters`'s stats line. */
  final case class Clusters(docs: Long, clusters: Long, canonicals: Long)

  /** Run `graft.Main` with `args` as the CLI does, in this JVM and this
    * session, and return the whole-number fields of the JSON stats line it
    * prints last. */
  def cli(args: String*): Map[String, Long] = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(graft.Main.main(args.toArray))
    ps.flush()
    val line = buf.toString("UTF-8").linesIterator.map(_.trim).filter(_.startsWith("{"))
      .toSeq.lastOption.getOrElse(sys.error(s"graft.Main ${args.head} printed no stats line"))
    """"(\w+)":(-?\d+)[,}]""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def release(in: String, out: String): Release = {
    val s = cli("pipeline", "--in", in, "--out", out, "--near-dup")
    Release(s("docs_in"), s("refused"), s("enc_flagged"), s("q_dropped"), s("exact_dups"),
      s("near_dups"), s("released"), s("shards"))
  }

  def clusters(in: String, out: String): Clusters = {
    val s = cli("phash", "--in", in, "--out", out, "--clusters")
    Clusters(s("docs"), s("clusters"), s("canonicals"))
  }

  // ------------------------------------------------------ isolation runs

  private def materialise(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Rows produced by the join operators of an executed plan. */
  def joinRows(df: DataFrame): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  /** The `pipeline --near-dup` operator calls with every sub-layer
    * materialised under its own span; writes the same two tables as the
    * CLI. Returns the sub-layer counts. */
  def releaseIsolated(spark: SparkSession, in: String, out: String,
                      tracer: Tracer): Map[String, Double] = {
    val raw = spark.read.parquet(in)
    val staged = tracer.span("extract") {
      materialise(Extract.crawlPipelineStaged(raw, "html", MinWords)
        .select("doc_id", "kept", "repaired"))
    }
    val keptDocs = staged.filter(col("kept"))
      .select(col("doc_id"), col("repaired").as("text"))
    val (released0, candidates, useful, iters) = tracer.span("dedup") {
      val sh = tracer.span("dedup.shingle")(materialise(Dedup.shingleRows(keptDocs)))
      val pairs = tracer.span("dedup.minhash") {
        materialise(Dedup.c2DedupMinhash(spark, in, shingleTable = Some(sh)))
      }
      val edges = pairs.filter(col("jaccard") >= Threshold)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val (labels, iters) = tracer.span("dedup.cc")(Dedup.connectedComponentsAlternating(edges))
      val dropIds = labels.filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      (keptDocs.join(dropIds, Seq("doc_id"), "left_anti"), pairs.count(),
        pairs.filter(col("jaccard") >= Threshold).count(), iters)
    }
    tracer.span("textops") {
      tracer.span("textops.shard") {
        TextOps.shuffleShard(released0, PrefixLen).select("doc_id", "text", "shard")
          .write.mode("overwrite").parquet(s"$out/released.parquet")
      }
      tracer.span("textops.manifest") {
        val written = spark.read.parquet(s"$out/released.parquet")
        TextOps.shardManifestOn(written.select("doc_id", "text"), PrefixLen)
          .write.mode("overwrite").parquet(s"$out/manifest.parquet")
      }
    }
    Map("dedup.candidates" -> candidates.toDouble,
      "dedup.useful_ratio" -> useful.toDouble / math.max(1L, candidates),
      "dedup.cc_iterations" -> iters.toDouble)
  }

  /** The `phash --clusters` operator calls with the hashes and the pairs
    * materialised under their own spans; writes the same cluster table as
    * the CLI. Returns the pair counts. */
  def clustersIsolated(spark: SparkSession, in: String, out: String,
                       tracer: Tracer): Map[String, Double] = {
    import spark.implicits._
    tracer.span("multimodal") {
      val media = spark.read.parquet(in)
      val hashes = tracer.span("multimodal.hash") {
        materialise(media.select("doc_id", "media_type", "payload").as[MediaRecord]
          .mapPartitions(_.map(r => (r.doc_id, r.media_type,
            Multimodal.phashOf(r.doc_id, r.media_type, r.payload))))
          .toDF("doc_id", "media_type", "phash"))
      }
      val (edges, joined, pairs) = tracer.span("multimodal.pairs") {
        val cand = Multimodal.phashCandidates(hashes, MaxHamming, keyCols = Seq("media_type"))
          .select(col("doc_a").as("u"), col("doc_b").as("v"))
        val e = materialise(cand)
        (e, joinRows(cand), e.count())
      }
      tracer.span("multimodal.clusters") {
        val labels = Dedup.connectedComponentsAlternating(edges)._1
        Multimodal.clusterSurface(hashes.select("doc_id", "media_type"), labels,
            carryCols = Seq("media_type"))
          .write.mode("overwrite").parquet(out)
      }
      Map("multimodal.candidates" -> joined.toDouble,
        "multimodal.useful_ratio" -> pairs.toDouble / math.max(1L, joined))
    }
  }
}
