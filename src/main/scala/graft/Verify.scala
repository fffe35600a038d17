package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query names — dump (and emit
    // oracle SQL for) only those, for fast single-row rehearsals. The
    // driver always calls with two args and gets the full gate.
    // "--oracle-only" (r20): refresh the FULL oracle_sql.json against an
    // existing dump directory without re-running any query — the
    // oracle-side iteration loop (edit SQL builder → re-check) at sf0.1
    // costs minutes instead of the 45-minute Spark re-dump.
    val (sfDir, outDir, only, oracleOnly) = args match {
      case Array(s, o)                  => (s, o, None, false)
      case Array(s, o, "--oracle-only") => (s, o, None, true)
      case Array(s, o, f)               => (s, o, Some(f.split(',').toSet), false)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the session every graft entry point ships with (extensions, Kryo,
    // page size, checkpoint manager, one class loader, ...), so the gate
    // checks the engine as it runs; it also sets nanosAsLong, which
    // events.parquet's TIMESTAMP(NANOS) needs
    val spark = GraftSession.start(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // Output layout: the driver's compare reads the Spark-written DIRECTORY
    // at outDir/<name> (the exact layout the round-0 stub produced — see git
    // 6b425ff). We additionally copy the single part file to
    // outDir/<name>.parquet so file-based readers (tools/check.py) work too.
    // One computation, two layouts.
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val names = (if (oracleOnly) Seq.empty[String]
      else SparkEntry.queries.keys.toSeq.sorted)
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val dir = s"$outDir/$name"
        SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        val part = new java.io.File(dir).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for $name"))
        Files.copy(part.toPath, Paths.get(s"$outDir/$name.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // scale-adaptive oracle text (c11's LSH plane count) must be rendered
    // against the same data the queries just ran on. Filter by KEY before
    // fetching values: Map.filter would iterate the LazyOracleMap and
    // force every artifact-trained entry (BPE, unigram, DSIR, tree) even
    // for queries a single-row rehearsal excluded.
    val oracle = SparkEntry.oracleSqlFor(sfDir)
    val json = oracle.keySet.toSeq.sorted
      .filter(k => only.forall(_.contains(k)))
      .map(k => s"${q(k)}: ${q(oracle(k))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val nFail = failed.size
    val nOk = names.size - nFail
    println(s"[verify] SUMMARY: $nOk/${names.size} queries dumped, $nFail failed" +
      (if (nFail > 0) s" -> ${failed.toArray.mkString(",")}" else "") +
      (if (oracleOnly) " (oracle-only refresh)" else ""))
    spark.stop()
    if (nFail > 0 || (nOk == 0 && !oracleOnly)) sys.exit(1)
  }
}
