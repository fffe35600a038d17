package graft

import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** Local writes under the graft session set permissions through java.nio
  * ([[NioLocalFileSystem]]) and leave exactly the modes Hadoop's stock
  * local file system leaves. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def tmpDir(prefix: String): NioPath = {
    val d = Files.createTempDirectory(prefix)
    GraftSession.registerCleanup(d.toFile)
    d
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → mode of every entry under `dir`, with part-file UUIDs
    * masked so two writes of the same frame line up. */
  private def modes(dir: NioPath): Map[String, Int] =
    Files.walk(dir).iterator().asScala.toSeq.map { p =>
      dir.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U") -> mode(p)
    }.toMap

  private def stock(): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    fs
  }

  test("the graft session's file: scheme is the java.nio file system") {
    val fs = FileSystem.get(tmpDir("graft-nfs-").toUri, spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioLocalFileSystem.Raw])
  }

  test("mkdirs, create and setPermission leave the stock file system's modes") {
    val ours = new NioLocalFileSystem()
    ours.initialize(new java.net.URI("file:///"), new Configuration())
    val theirs = stock()
    val perms = Seq("755", "700", "644", "600", "640", "777", "000", "1777")
      .map(m => new FsPermission(Integer.parseInt(m, 8).toShort))
    val roots = Seq(tmpDir("graft-nfs-ours-"), tmpDir("graft-nfs-stock-"))
    val seen = roots.zip(Seq(ours, theirs)).map { case (root, fs) =>
      perms.zipWithIndex.flatMap { case (perm, i) =>
        val d = root.resolve(s"d$i")
        assert(fs.mkdirs(new Path(d.toUri), perm))
        val f = root.resolve(s"f$i")
        fs.create(new Path(f.toUri), perm, true, 4096, 1.toShort, 1L << 20, null).close()
        val g = root.resolve(s"g$i")
        fs.create(new Path(g.toUri)).close()
        fs.setPermission(new Path(g.toUri), perm)
        Seq(s"d$i" -> mode(d), s"f$i" -> mode(f), s"g$i" -> mode(g))
      }.toMap
    }
    assert(seen(0) == seen(1))
    // the sticky bit reaches the file through the fallback path
    assert(seen(0)("g7") == Integer.parseInt("1777", 8))
    intercept[java.io.FileNotFoundException] {
      ours.setPermission(new Path(roots(0).resolve("missing").toUri), perms.head)
    }
  }

  test("a parquet write under the session leaves the stock write's modes and rows") {
    val df = spark.range(0, 1000, 1, 3).selectExpr("id", "cast(id * 2 as string) AS s")
    val root = tmpDir("graft-nfs-pq-")
    val ours = root.resolve("ours")
    val theirs = root.resolve("stock")
    df.write.parquet(ours.toString)
    // the same write on a fresh, uncached stock local file system
    df.write.option("fs.file.impl", classOf[LocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true").parquet(theirs.toString)
    val (a, b) = (modes(ours), modes(theirs))
    assert(a.keySet.exists(_.endsWith(".parquet")) && a.contains("_SUCCESS"), a)
    assert(a == b)
    assert(spark.read.parquet(ours.toString).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }
}
