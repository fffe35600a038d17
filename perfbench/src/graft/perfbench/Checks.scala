package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Multimodal

/** Output checks, run outside the timed window. Each returns readable
  * problems; an empty list means the output is correct. */
object Checks {

  /** 64-bit digest of one canonical row. */
  def digest(canonical: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(canonical, 0x5eed1)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(canonical, 0x5eed2)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case l: java.util.List[_] => l.asScala.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** One published message file, decoded with Arrow's own reader. */
  final case class Message(file: String, epoch: Long, bytes: Long,
                           canonical: IndexedSeq[String])

  private val Name = """msg-([0-9a-f]{8})-[0-9a-f]{16}\.arrow""".r

  def readMessages(dir: String): Seq[Message] = {
    val files = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".arrow")).sortBy(_.getName)
    val alloc = new RootAllocator(Long.MaxValue)
    try files.map { f =>
      val bytes = Files.readAllBytes(f.toPath)
      val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val rows = IndexedSeq.newBuilder[String]
        while (reader.loadNextBatch()) {
          val vecs = root.getFieldVectors.asScala
          (0 until root.getRowCount).foreach { i =>
            rows += vecs.map(v => canon(v.getObject(i))).mkString("|")
          }
        }
        val epoch = f.getName match {
          case Name(e) => java.lang.Long.parseLong(e, 16)
          case _ => -1L
        }
        Message(f.getName, epoch, bytes.length.toLong, rows.result())
      } finally reader.close()
    } finally alloc.close()
  }

  /** Every generated event published exactly once, and every message
    * within max-rows and max-ipc. Also returns the failed operations:
    * events missing, plus events extra or altered, plus messages over a
    * limit. */
  def stream(expected: Seq[String], msgs: Seq[Message]): (Long, Seq[String]) = {
    val problems = Seq.newBuilder[String]
    msgs.foreach { m =>
      if (m.canonical.length > Streams.MaxRows)
        problems += s"${m.file}: ${m.canonical.length} rows > max-rows ${Streams.MaxRows}"
      if (m.bytes > Streams.MaxIpc)
        problems += s"${m.file}: ${m.bytes} bytes > max-ipc ${Streams.MaxIpc}"
    }
    val want = expected.map(digest).sorted.toArray
    val got = msgs.flatMap(_.canonical).map(digest).sorted.toArray
    val (missing, extra) = multisetDiff(want, got)
    if (missing + extra > 0)
      problems += s"$missing events missing, $extra extra or altered of ${want.length}"
    (missing + extra + msgs.count(m => m.canonical.length > Streams.MaxRows ||
      m.bytes > Streams.MaxIpc), problems.result())
  }

  /** (in want but not got, in got but not want), counting multiplicity. */
  def multisetDiff(want: Array[Long], got: Array[Long]): (Long, Long) = {
    var i = 0; var j = 0; var missing = 0L; var extra = 0L
    while (i < want.length || j < got.length) {
      if (j >= got.length || (i < want.length && want(i) < got(j))) { missing += 1; i += 1 }
      else if (i >= want.length || got(j) < want(i)) { extra += 1; j += 1 }
      else { i += 1; j += 1 }
    }
    (missing, extra)
  }

  // ------------------------------------------------------------ release

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Attrition sums to docs in, released text has no exact duplicate, and
    * the manifest's per-shard counts and digests recompute from the
    * released rows. */
  def release(spark: SparkSession, out: String, nDocs: Int, r: Flows.Release): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (r.docsIn != nDocs) problems += s"docs_in ${r.docsIn} != generated $nDocs"
    val sum = r.refused + r.encFlagged + r.qDropped + r.exactDups + r.nearDups + r.released
    if (sum != r.docsIn) problems += s"attrition sums to $sum, docs_in ${r.docsIn}"
    val rel = spark.read.parquet(s"$out/released.parquet").select("doc_id", "text", "shard")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2)))
    if (rel.length != r.released) problems += s"released.parquet has ${rel.length} rows, stats ${r.released}"
    val dupTexts = rel.length - rel.map(_._2).distinct.length
    if (dupTexts > 0) problems += s"$dupTexts released texts are exact duplicates"
    val mod = BigInt(graft.operators.TextOps.DigestMod)
    val want = rel.toSeq.map { case (id, text, shard) =>
      val h = md5Hex(s"$id:$text")
      if (shard != h.substring(0, Flows.PrefixLen)) problems += s"doc $id in shard $shard, hash says ${h.take(1)}"
      (h.substring(0, Flows.PrefixLen), text.split(" ", -1).length.toLong,
        BigInt(h.substring(0, 15), 16), BigInt(h.substring(16, 31), 16))
    }.groupBy(_._1).map { case (s, xs) =>
      s -> (xs.size.toLong, xs.map(_._2).sum, (xs.map(_._3).sum % mod).toLong, (xs.map(_._4).sum % mod).toLong)
    }
    val got = spark.read.parquet(s"$out/manifest.parquet").collect().map { m =>
      m.getAs[String]("shard") -> (m.getAs[Long]("n_docs"), m.getAs[Long]("n_tokens"),
        m.getAs[Long]("digest1"), m.getAs[Long]("digest2"))
    }.toMap
    if (got.size != r.shards) problems += s"manifest has ${got.size} shards, stats ${r.shards}"
    if (got != want) {
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      problems += s"manifest disagrees with released rows on shards ${bad.toSeq.sorted.mkString(",")}"
    }
    problems.result()
  }

  // -------------------------------------------------------------- media

  /** Expected pairs and components from a brute-force scan over the
    * hashes of every payload (within one media type, Hamming <= max).
    * The pair layer's output, recomputed from the input, must equal the
    * brute-force pairs (with `checkPairs`: the pair layer is a pure
    * function of the input, so once per input), and the flow's cluster
    * table the components; every planted pair must be among the pairs. */
  def media(spark: SparkSession, in: String, out: String, corpus: Gen.MediaCorpus,
            stats: Flows.Clusters, checkPairs: Boolean = true): Seq[String] = {
    import spark.implicits._
    val problems = Seq.newBuilder[String]
    val hashes = corpus.rows.map { case (id, t, p) => (id, t, Multimodal.phashOf(id, t, p)) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val brute = scala.collection.mutable.Set[(Long, Long)]()
    hashes.groupBy(_._2).values.foreach { group =>
      val g = group.toArray
      var i = 0
      while (i < g.length) {
        var j = i + 1
        while (j < g.length) {
          if (java.lang.Long.bitCount(g(i)._3 ^ g(j)._3) <= Flows.MaxHamming) {
            brute += ((math.min(g(i)._1, g(j)._1), math.max(g(i)._1, g(j)._1)))
            val (ra, rb) = (find(g(i)._1), find(g(j)._1))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          j += 1
        }
        i += 1
      }
    }
    val lost = corpus.planted.count { case (a, b) => !brute((math.min(a, b), math.max(a, b))) }
    if (lost > 0) problems += s"$lost planted pairs are more than ${Flows.MaxHamming} bits apart"
    if (checkPairs) {
      val hashDf = spark.read.parquet(in).select("doc_id", "media_type", "payload")
        .as[graft.operators.MediaRecord]
        .map(r => (r.doc_id, r.media_type, Multimodal.phashOf(r.doc_id, r.media_type, r.payload)))
        .toDF("doc_id", "media_type", "phash")
      val pairs = Multimodal.phashCandidates(hashDf, Flows.MaxHamming, keyCols = Seq("media_type"))
        .select("doc_a", "doc_b", "hamming").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      val over = pairs.count(_._3 > Flows.MaxHamming)
      if (over > 0) problems += s"$over pairs exceed max-hamming ${Flows.MaxHamming}"
      val pairSet = pairs.map(p => (p._1, p._2)).toSet
      if (pairSet.size != pairs.length) problems += s"${pairs.length - pairSet.size} duplicate pairs"
      val missing = brute.count(p => !pairSet(p))
      val spurious = (pairSet -- brute).size
      if (missing + spurious > 0)
        problems += s"pair layer: $missing brute-force pairs missing, $spurious not within max-hamming"
    }
    val want = hashes.map(_._1).map(id => id -> find(id)).toMap
    val size = want.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = spark.read.parquet(out)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("is_canonical"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getBoolean(3))).toMap
    if (got.size != want.size) problems += s"${got.size} cluster rows for ${want.size} docs"
    val wrong = want.count { case (id, c) => !got.get(id).contains((c, size(c), id == c)) }
    if (wrong > 0) problems += s"$wrong docs carry a cluster other than the brute-force component"
    val missed = corpus.planted.count { case (a, b) =>
      got.get(a).map(_._1) != got.get(b).map(_._1) }
    if (missed > 0) problems += s"$missed planted pairs not in one cluster"
    val wantStats = Flows.Clusters(want.size.toLong, size.size.toLong, size.size.toLong)
    if (stats != wantStats) problems += s"stats line $stats, brute force $wantStats"
    problems.result()
  }

  // ---------------------------------------------------------- isolation

  /** The isolation run of a flow wrote the same rows as the CLI. */
  def sameRows(spark: SparkSession, cliOut: String, isolatedOut: String): Seq[String] = {
    val a = spark.read.parquet(cliOut)
    val b = spark.read.parquet(isolatedOut).select(a.columns.map(col): _*)
    val n = a.exceptAll(b).count() + b.exceptAll(a).count()
    if (n == 0) Nil else Seq(s"isolation run and CLI differ in $n rows of $cliOut")
  }
}
