package graft

import java.io.File
import java.nio.file.{FileVisitOption, Files, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

/** The one memo mechanism for per-JVM build artifacts: scratch parquet
  * tables (shingle, phash, label and pair tables, wire-format corpora)
  * and in-driver values (trained tokenizer, DSIR and tree artifacts,
  * PCA components, sketch grids).
  *
  * Contract:
  *  - an entry is keyed on (name, params, inputs) and is valid for one
  *    FINGERPRINT of its inputs — path, size and mtime of every file
  *    under each input path, taken on every lookup — so an input
  *    rewritten inside the JVM rebuilds the entry instead of serving a
  *    stale one;
  *  - each key has its own build cell: the map only creates cells, the
  *    build runs under the cell's lock, so concurrent lookups wait for
  *    one build and a build may look up other memos;
  *  - a table is written into a temp dir and renamed to a fresh path
  *    derived from the key, so readers never see a half-written table;
  *    a superseded table is deleted before its rebuild starts, a failed
  *    build leaves nothing readable and the next lookup retries, and
  *    every published table is removed at JVM exit;
  *  - build time is charged to [[graft.metrics.MemoClock]]. */
object Memo {

  /** Collision-resistant scratch-name suffix: first 8 hex chars of the
    * MD5 of `s`. (String.hashCode collisions between two dirs in one JVM
    * would silently alias their scratch names.) */
  private[graft] def pathKey(s: String): String = md5(s).take(8)

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Path of the scratch table `write` builds from `inputs`. `write` gets
    * a path that does not exist yet and must leave the table there. */
  private[graft] def table(name: String, inputs: Seq[String], params: Any*)(
      write: String => Unit): String =
    lookup(name, inputs, params) { stamp =>
      val tmpRoot = System.getProperty("java.io.tmpdir")
      val pid = ProcessHandle.current().pid()
      val dir = new File(tmpRoot, s"graft-$name-$stamp-$pid")
      val tmp = new File(tmpRoot, s"graft-$name-$stamp-$pid.building")
      GraftSession.deleteRecursive(tmp)
      GraftSession.registerCleanup(tmp)
      GraftSession.registerCleanup(dir)
      try {
        write(tmp.toString)
        GraftSession.deleteRecursive(dir)
        Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
      } finally GraftSession.deleteRecursive(tmp)
      (dir.toString, Some(dir))
    }

  /** In-driver value `build` computes from `inputs`. */
  private[graft] def value[A](name: String, inputs: Seq[String], params: Any*)(
      build: => A): A =
    lookup(name, inputs, params)(_ => (build, None))

  private final class Cell {
    var fingerprint: String = _ // guarded by this
    var value: Any = _
    var dir: Option[File] = None
  }

  private val cells = new ConcurrentHashMap[(String, Seq[String], Seq[Any]), Cell]()

  private def lookup[A](name: String, inputs: Seq[String], params: Seq[Any])(
      build: String => (A, Option[File])): A = {
    val cell = cells.computeIfAbsent((name, inputs, params), _ => new Cell)
    cell.synchronized {
      val fp = fingerprint(inputs)
      if (cell.fingerprint != fp) {
        cell.dir.foreach(GraftSession.deleteRecursive)
        cell.fingerprint = null
        cell.dir = None
        val (v, dir) = graft.metrics.MemoClock.timed(
          build(md5(s"$name|${params.mkString("|")}|$fp")))
        cell.value = v
        cell.dir = dir
        cell.fingerprint = fp
      }
      cell.value.asInstanceOf[A]
    }
  }

  /** Path, size and mtime of every regular file under each input path
    * (a missing path fingerprints as missing). */
  private[graft] def fingerprint(inputs: Seq[String]): String =
    inputs.map { in =>
      val root = Paths.get(in)
      if (!Files.exists(root)) s"$in:missing"
      else {
        val files = Files.walk(root, FileVisitOption.FOLLOW_LINKS)
        try files.iterator.asScala.flatMap { f =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          if (a.isRegularFile)
            Some(s"$f:${a.size}:${a.lastModifiedTime.to(TimeUnit.NANOSECONDS)}")
          else None
        }.toSeq.sorted.mkString(",")
        finally files.close()
      }
    }.mkString(";")
}
