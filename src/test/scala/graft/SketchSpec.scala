package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketch

/** c100 Count-Min-Sketch specs: the Spark sketch pinned against an
  * INDEPENDENT driver-side implementation (md5-prefix buckets, counter
  * fold, min-of-d estimate), the one-sided error law on EVERY word type
  * (not just the surfaced top-k), grid boundedness, partition
  * invariance, and the d48 ingest twin. */
class SketchSpec extends SparkSpec {

  // ---- independent driver-side reference implementation ----

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  private def refBucket(i: Int, token: String): String =
    md5hex(s"$i:$token").substring(0, 2)

  private def refGrid(wt: Seq[(String, Long)]): Map[String, Long] =
    (for {
      (w, c) <- wt
      i <- 0 until Sketch.CmsDepth
    } yield (s"$i:${refBucket(i, w)}", c))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }

  private def refEstimate(token: String, grid: Map[String, Long]): Long =
    (0 until Sketch.CmsDepth)
      .map(i => grid.getOrElse(s"$i:${refBucket(i, token)}", 0L)).min

  private def corpusWordTypes: Seq[(String, Long)] =
    Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  // ---- specs ----

  test("c100 grid, estimates and the top-k cut equal the driver sketch") {
    val wt = corpusWordTypes
    val grid = refGrid(wt)
    val sparkGrid = Sketch.cmsGrid(spark, sfDir)
    assert(sparkGrid == grid, "counter grid must match the driver fold")
    assert(sparkGrid.size <= Sketch.CmsDepth * Sketch.CmsWidth,
      s"grid must stay bounded: ${sparkGrid.size}")
    val want = wt.map { case (w, c) => (w, refEstimate(w, grid), c) }
      .sortBy { case (w, e, _) => (-e, w) }
      .take(Sketch.CmsTopK)
      .map { case (w, e, c) => (w, e, c, e == c) }
    val got = Sketch.c100CmsTopk(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got == want, "c100 must equal the driver sketch cut")
  }

  test("heap candidate pool contains the exact top-k AND the estimate top-k (r17)") {
    val wt = corpusWordTypes
    val cands = Sketch.heavyCandidates(spark, sfDir).toSet
    assert(cands.size <= Sketch.CmsCandidatePool,
      s"pool must stay bounded: ${cands.size}")
    // ⊇ the true top-k: the done-bar's one-sided inclusion
    val trueTop = wt.sortBy { case (w, c) => (-c, w) }
      .take(Sketch.CmsTopK).map(_._1)
    val missTrue = trueTop.filterNot(cands)
    assert(missTrue.isEmpty, s"pool missed true top-k tokens: $missTrue")
    // ⊇ the ESTIMATE top-k: what output equality with the full-table
    // oracle actually requires (the cut ranks by est desc)
    val grid = refGrid(wt)
    val estTop = wt.map { case (w, c) => (w, refEstimate(w, grid)) }
      .sortBy { case (w, e) => (-e, w) }.take(Sketch.CmsTopK).map(_._1)
    val missEst = estTop.filterNot(cands)
    assert(missEst.isEmpty, s"pool missed estimate top-k tokens: $missEst")
  }

  test("Misra-Gries summary: bounded, lower-bound counts, frequent items survive") {
    // deterministic synthetic stream: token i of 40 appears 40-i times,
    // shuffled by a fixed stride so arrivals interleave adversarially
    val arrivals = (0 until 40).flatMap(i => Seq.fill(40 - i)(s"t$i"))
    val stream = arrivals.indices.map(j =>
      arrivals((j * 7919) % arrivals.length))
    val n = stream.length
    val cap = 8
    val mg = Sketch.misraGries(stream.iterator, cap).toMap
    assert(mg.size <= cap, s"summary must stay within capacity: ${mg.size}")
    val truth = stream.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    mg.foreach { case (w, c) =>
      assert(c <= truth(w), s"$w: MG count $c must lower-bound ${truth(w)}")
      assert(truth(w) - c <= n / (cap + 1),
        s"$w: undercount ${truth(w) - c} exceeds n/(cap+1) = ${n / (cap + 1)}")
    }
    // the frequent-items guarantee: count > n/(cap+1) ⇒ in the summary
    truth.filter(_._2 > n / (cap + 1)).keys.foreach(w =>
      assert(mg.contains(w), s"frequent item $w dropped from the summary"))
    // degenerate capacities behave
    assert(Sketch.misraGries(Iterator.empty, 4).isEmpty)
    intercept[IllegalArgumentException] {
      Sketch.misraGries(Iterator("a"), 0)
    }
  }

  test("candidate path: summary-sized merge exchange only, cut is TakeOrdered") {
    import spark.implicits._
    val partials = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .as[String]
      .mapPartitions(it => Sketch.misraGries(it, Sketch.MgCapacity))
      .toDF("w", "pcnt")
      .groupBy("w").agg(sum("pcnt").as("pcnt"))
      .orderBy(desc("pcnt"), asc("w")).limit(Sketch.CmsCandidatePool)
    val plan = sansFanOut(partials.queryExecution.executedPlan.toString)
    assert(plan.contains("TakeOrderedAndProject"),
      s"candidate cut must be TakeOrderedAndProject:\n$plan")
    // exactly ONE exchange, and it must sit ABOVE the Misra-Gries
    // partition fold (parents print first): its input is the bounded
    // per-partition summary union (≤ cap·partitions rows), never the
    // raw token stream or the full vocabulary
    assert(plan.split("Exchange").length == 2,
      s"candidate path must have exactly one (summary-merge) exchange:\n$plan")
    assert(plan.indexOf("Exchange") >= 0 &&
      plan.indexOf("Exchange") < plan.indexOf("MapPartitions"),
      s"the one exchange must consume the MG summary, not the stream:\n$plan")
  }

  test("CMS one-sided error law holds on EVERY word type") {
    import spark.implicits._
    val wt = corpusWordTypes
    val grid = Sketch.cmsGrid(spark, sfDir)
    val rows = wt.toDF("w", "wcnt")
      .select(col("w"), Sketch.estimateOf(col("w"), grid).as("est"),
        col("wcnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (w, est, c) =>
      assert(est >= c, s"CMS must never underestimate: '$w' est $est < $c")
    }
    // the sketch is useful, not vacuous: at gate scale most estimates
    // are exact and at least one collision exists (d·w ≪ corpus types
    // would make this flip — the widths are chosen so both sides show)
    val exact = rows.count { case (_, e, c) => e == c }
    info(s"c100: ${rows.length} types, $exact exact, " +
      s"${rows.length - exact} overestimated")
    assert(exact > rows.length / 2, "most estimates should be exact")
    if (rows.length > Sketch.CmsWidth)
      assert(exact < rows.length,
        "more types than buckets must produce at least one collision")
  }

  test("collisions overestimate and never underestimate (pigeonhole corpus)") {
    import spark.implicits._
    // 1000 distinct types into 256 buckets per row: collisions are
    // guaranteed by pigeonhole, so the overestimate leg — invisible on
    // the gate corpus's ~31-type vocabulary — actually executes here
    val wt = (0 until 1000).map(i => (s"tok$i", (i % 7 + 1).toLong))
    val grid = Sketch.counterGrid(wt.toDF("w", "wcnt"))
    assert(grid == refGrid(wt), "synthetic grid must match the driver fold")
    val rows = wt.toDF("w", "wcnt")
      .select(col("w"), Sketch.estimateOf(col("w"), grid).as("est"), col("wcnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (w, est, c) =>
      assert(est >= c, s"'$w' est $est < true $c")
      assert(est == refEstimate(w, grid), s"'$w' estimate drift")
    }
    val over = rows.count { case (_, e, c) => e > c }
    info(s"synthetic: ${rows.length} types, $over overestimated")
    assert(over > 0, "1000 types in 256 buckets must collide somewhere")
  }

  test("foreign-corpus tokens read min-including-zero, never null or a partial min") {
    import spark.implicits._
    // a tiny grid leaves most cells untouched: an unseen token whose
    // buckets were never written must estimate 0 (textbook CMS), and a
    // token sharing SOME buckets with real mass must take the min over
    // ALL d counters including the empty ones
    val grid = Sketch.counterGrid(Seq(("alpha", 7L)).toDF("w", "wcnt"))
    assert(grid.size == Sketch.CmsDepth)
    val probes = (0 until 200).map(i => s"probe$i") :+ "alpha"
    val rows = probes.toDF("w")
      .select(col("w"), Sketch.estimateOf(col("w"), grid).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("alpha") == 7L)
    probes.filterNot(_ == "alpha").foreach { p =>
      assert(rows(p) == refEstimate(p, grid), s"'$p' estimate drift")
      // with only 4 touched cells, a 4-way all-collision is wildly
      // unlikely — at least SOME probe must read a hard zero
      ()
    }
    assert(probes.exists(p => rows(p) == 0L),
      "an unseen token with untouched buckets must estimate 0")
    assert(rows.values.forall(_ != null), "estimates are never null")
  }

  test("c100 is partition-invariant (the sketch is a pure data function)") {
    import spark.implicits._
    val wt = corpusWordTypes.toDF("w", "wcnt")
    val a = Sketch.counterGrid(wt.repartition(1))
    val b = Sketch.counterGrid(wt.repartition(32))
    assert(a == b, "the grid must not depend on partitioning")
  }

  test("d48 streaming CMS estimates equal the batch grid on replay") {
    import spark.implicits._
    val grid = Sketch.cmsGrid(spark, sfDir)
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val edge = Seq((9301L, null.asInstanceOf[String]), (9302L, ""))
    val want = corpus.filter(_._2 != null).flatMap { case (id, t) =>
      t.toLowerCase.split(" ").filter(_.nonEmpty).distinct
        .map(w => (id, w, refEstimate(w, grid)))
    }.sorted
    val sink = drainStream(corpus ++ edge) { s =>
      Sketch.cmsEstimate(s.toDF("doc_id", "text"), grid)
    }
    val got = sink.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(got == want, "stream estimates must equal the batch sketch")
    assert(!got.exists(_._1 >= 9301L),
      "null/empty docs must not emit rows")
    ()
  }
}
