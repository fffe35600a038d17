package graft.perfbench

import java.io.{File, RandomAccessFile}

import scala.collection.immutable.ListMap

/** The state of the machine next to each run, as context for reading its
  * figures (not as metrics): cores, heap, a file-create/fsync probe on the
  * filesystem the outputs go to, and the CPU steal share while the run
  * measured. */
object BoxState {

  private def cpuLine(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty)
    finally src.close()
  }

  @volatile private var stat0: Array[Long] = Array.empty

  /** Steal share of all CPU time since [[probe]]. */
  def steal(): ListMap[String, Any] = {
    val now = try cpuLine() catch { case _: Exception => Array.empty[Long] }
    if (stat0.length < 8 || now.length < 8) ListMap("steal_share" -> null)
    else {
      val d = now.zip(stat0).map { case (a, b) => a - b }
      ListMap("steal_share" -> d(7).toDouble / math.max(1L, d.sum))
    }
  }

  /** Create and fsync small files for at most half a second. */
  def probe(dir: File): ListMap[String, Any] = {
    dir.mkdirs()
    val buf = new Array[Byte](4096)
    val t0 = System.nanoTime()
    var n = 0
    var syncNs = 0L
    while (n < 200 && System.nanoTime() - t0 < 500000000L) {
      val f = new RandomAccessFile(new File(dir, s"p$n"), "rw")
      try {
        f.write(buf)
        val s = System.nanoTime()
        f.getFD.sync()
        syncNs += System.nanoTime() - s
      } finally f.close()
      n += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Main.deleteTree(dir)
    stat0 = try cpuLine() catch { case _: Exception => Array.empty[Long] }
    ListMap(
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0),
      "probe_files_per_s" -> n / secs,
      "probe_fsync_per_s" -> n / math.max(1e-9, syncNs / 1e9),
      "output_dir" -> dir.getParent)
  }
}
