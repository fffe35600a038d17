package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.metrics.MemoClock
import graft.operators.Dedup

/** The memo contract ([[Memo]]): entries follow their inputs, publish
  * atomically, nest, and build once per key under concurrency — plus
  * source audits that keep every build cache behind the one mechanism
  * and the near-dup logic in one place. */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(docs: (Long, String)*): String = {
    val dir = Files.createTempDirectory("graft-memo-").toString
    writeDocs(dir, docs)
    dir
  }

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def rows(p: String): Set[(Long, String)] =
    spark.read.parquet(p).select("doc_id", "shingle").as[(Long, String)]
      .collect().toSet

  private def liveShingles(dir: String): Set[(Long, String)] =
    Dedup.shingleRows(Tables.documents(spark, dir), 3)
      .select("doc_id", "shingle").as[(Long, String)].collect().toSet

  test("(a) an input rewritten in the same JVM rebuilds the memo with the new content") {
    val dir = corpus(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma")
    val first = rows(Dedup.shingleTablePath(spark, dir))
    assert(first == liveShingles(dir))
    writeDocs(dir, Seq(1L -> "one two three four five", 3L -> "two three four"))
    val second = rows(Dedup.shingleTablePath(spark, dir))
    assert(second == liveShingles(dir))
    assert(second != first)
  }

  test("(b) a failed build leaves no readable table and the next lookup builds again") {
    val dir = corpus(1L -> "alpha beta gamma delta")
    val p1 = Dedup.shingleTablePath(spark, dir)
    assert(rows(p1) == liveShingles(dir))
    // replace the input with a file no parquet reader accepts
    val bad = new File(s"$dir/documents.parquet")
    bad.listFiles().foreach(_.delete())
    Files.write(new File(bad, "part-00000.parquet").toPath, "not parquet".getBytes)
    intercept[Exception](Dedup.shingleTablePath(spark, dir))
    assert(!new File(p1).exists(), s"stale table still readable at $p1")
    writeDocs(dir, Seq(7L -> "seven eight nine ten"))
    val before = MemoClock.count
    val p3 = Dedup.shingleTablePath(spark, dir)
    assert(MemoClock.count == before + 1)
    assert(rows(p3) == liveShingles(dir))
  }

  test("(b) a build that throws mid-write publishes nothing") {
    val dir = corpus(1L -> "x y z")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    def published = tmp.listFiles().filter(f =>
      f.getName.startsWith("graft-spec-midwrite-") && f.getName.contains(s"-$pid"))
    intercept[IllegalStateException] {
      Memo.table("spec-midwrite", Seq(dir)) { p =>
        spark.range(3).write.parquet(p)
        throw new IllegalStateException("build failed after writing")
      }
    }
    assert(published.isEmpty, published.mkString(", "))
    val p = Memo.table("spec-midwrite", Seq(dir))(p => spark.range(3).write.parquet(p))
    assert(spark.read.parquet(p).count() == 3L)
    assert(published.map(_.getPath).toSeq == Seq(p))
  }

  test("(c) a memo whose build looks up other memos needs no pre-resolve step") {
    val dir = corpus(1L -> "apple berry cherry damson", 2L -> "apple berry cherry damson",
      3L -> "elder fig grape hazel")
    val outer = Memo.table("spec-outer", Seq(dir)) { p =>
      val inner = Memo.table("spec-inner", Seq(dir)) { q =>
        Tables.documents(spark, dir).select("doc_id").write.parquet(q)
      }
      val n = Memo.value("spec-inner-count", Seq(inner))(spark.read.parquet(inner).count())
      spark.read.parquet(inner).withColumn("n", org.apache.spark.sql.functions.lit(n))
        .write.parquet(p)
    }
    assert(spark.read.parquet(outer).filter("n = 3").count() == 3L)
    // a real nested site, cold: the span cluster table builds the
    // positional shingle table from inside its own build
    val labels = spark.read.parquet(Dedup.spanClusterTablePath(spark, dir, 4))
      .select("node", "cluster_id").as[(Long, Long)].collect().toMap
    assert(labels.get(2L).contains(1L))
  }

  test("(d) concurrent lookups of one key run the build once") {
    val dir = corpus(1L -> "x")
    val builds = new AtomicInteger(0)
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val before = MemoClock.count
    try {
      val results = (1 to n).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          Memo.value("spec-concurrent", Seq(dir)) {
            Thread.sleep(200)
            builds.incrementAndGet()
          }
        }
      }))
      start.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)).toSet == Set(1))
    } finally pool.shutdownNow()
    assert(builds.get == 1)
    assert(MemoClock.count == before + 1)
  }

  test("source audit: no build cache in src/main outside graft/Memo.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft", "Memo.scala"))).toSeq
    // a computeIfAbsent whose mapping function reaches any of these is a
    // hand-rolled artifact build
    val buildMarkers = Seq("spark", "Tables.", "scratchDir", ".write",
      "parquet", "collect(", ".head(", "Memo")
    val offenders = sources.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val timed = if (text.contains("MemoClock.timed")) Seq(s"$f: MemoClock.timed") else Nil
      val caches = "computeIfAbsent\\(".r.findAllMatchIn(text).flatMap { m =>
        var depth = 1
        var i = m.end
        while (depth > 0 && i < text.length) {
          text(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          i += 1
        }
        val arg = text.substring(m.end, i)
        buildMarkers.find(arg.contains).map(k => s"$f: computeIfAbsent builds ($k): $arg")
      }
      timed ++ caches
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("source audit: one near-dup core — no per-call scratch counter, one " +
    "candidate site, the stream's band keys from Dedup") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    def source(rel: String) = new String(Files.readAllBytes(root.resolve(rel)), "UTF-8")
    // a per-call scratch counter: an atomic counter in a file that writes
    // scratch dirs (connected components' label checkpoint keeps its
    // own), or a scratch dir named for an incremental run
    val counterDecl = """val (\w+) = new java\.util\.concurrent\.atomic\.Atomic\w+""".r
    val counters = Seq("operators/Dedup.scala", "operators/Multimodal.scala").flatMap { f =>
      val text = source(f)
      val named = counterDecl.findAllMatchIn(text).map(_.group(1)).toSeq
        .filter(c => c != "ccScratchSeq" && text.contains("scratchDir("))
      val dirs = """scratchDir\(\s*s?"(ingest|incr)-""".r.findAllIn(text).toSeq
      (named ++ dirs).map(c => s"$f: per-call scratch counter $c")
    }
    // candidates come from one bucket list, never a join on the bucket
    val dedup = source("operators/Dedup.scala")
    val bucketLists = """groupBy\("band", "key"\)\s*\.agg\(collect_list\(struct\(""".r
      .findAllIn(dedup).size
    val candidates =
      (if (bucketLists > 1) Seq(s"Dedup.scala: $bucketLists band-bucket candidate sites")
       else Nil) ++
        (if (dedup.contains("""Seq("band", "key")""")) Seq("Dedup.scala: a band-key join")
         else Nil)
    val inlineKeys =
      if (source("streaming/StreamOps.scala").contains("""concat_ws("|""""))
        Seq("StreamOps.scala: a band key built inline, not by Dedup.bandKeyArray")
      else Nil
    val offenders = counters ++ candidates ++ inlineKeys
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
