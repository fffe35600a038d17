package graft

import java.io.PrintWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ipc.{ArrowIpc, IpcMessage}
import graft.streaming.{FilePublisher, LocalCheckpointFileManager, StreamPipeline}

/** The streaming checkpoint logs on local paths: graft's session writes them
  * with java.nio, keeps the atomic no-clobber contract `HDFSMetadataLog`
  * relies on, leaves no temp or checksum files, and reads and continues a
  * checkpoint Spark's default manager wrote (and the reverse). */
class CheckpointManagerSpec extends SparkSpec {

  private val confKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def tmpDir(prefix: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(prefix)
    GraftSession.registerCleanup(d.toFile)
    d
  }

  private def listing(dir: java.nio.file.Path): Seq[String] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(dir.relativize(_).toString).toSeq.sorted

  test("a file: checkpoint under the graft session gets the java.nio manager") {
    val dir = tmpDir("graft-ckfm-")
    assert(manager(dir).isInstanceOf[LocalCheckpointFileManager])
    // a scheme-less path resolves to the local default file system
    val fm = CheckpointFileManager.create(new Path(dir.toString),
      spark.sessionState.newHadoopConf())
    write(fm, new Path(s"$dir/plain"), "x", overwrite = false)
    assert(Files.readString(dir.resolve("plain")) == "x")
  }

  test("createAtomic: no-clobber throws on an existing file and keeps its bytes; " +
    "overwrite replaces; cancel leaves nothing") {
    val dir = tmpDir("graft-ckfm-")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first", overwrite = false)
    assert(Files.readString(dir.resolve("0")) == "first")
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(Files.readString(dir.resolve("0")) == "first", "a refused write must keep the old bytes")
    write(fm, p, "third", overwrite = true)
    assert(Files.readString(dir.resolve("0")) == "third")
    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("never".getBytes(StandardCharsets.UTF_8))
    out.cancel()
    assert(listing(dir) == Seq("0"), s"temp or final file left behind: ${listing(dir)}")
    fm.mkdirs(new Path(dir.resolve("a/b").toUri))
    assert(Files.isDirectory(dir.resolve("a/b")))
  }

  private def writeInput(in: java.nio.file.Path, from: Int, files: Int): Unit =
    (from until from + files).foreach { f =>
      val w = new PrintWriter(in.resolve(f"part-$f%03d.json").toFile)
      (0 until 10).foreach(i => w.println(s"""{"id": ${f * 10 + i}, "v": $i}"""))
      w.close()
    }

  /** `Main stream --in-dir`'s drain: eight files per trigger, AvailableNow,
    * one IPC file per message into `out`; returns the ids it published. */
  private def drain(in: java.nio.file.Path, out: String, ckpt: String,
                    managerClass: Class[_]): Seq[Long] = {
    import spark.implicits._
    spark.conf.set(confKey, managerClass.getName)
    try {
      val lines = spark.readStream.option("maxFilesPerTrigger", "8").text(in.toString)
      val q = StreamPipeline.publishStream(lines, StructType.fromDDL("id BIGINT, v BIGINT"),
        4096, epoch => new FilePublisher(out, epoch))
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      spark.streams.resetTerminated()
    } finally spark.conf.set(confKey, classOf[LocalCheckpointFileManager].getName)
    val msgs = spark.read.format("binaryFile").load(s"$out/*.arrow")
      .select(col("content")).as[Array[Byte]]
      .map(b => IpcMessage(0L, 0L, b.length.toLong, b))
    ArrowIpc.deserialize(spark, msgs, StructType.fromDDL("id BIGINT, v BIGINT"))
      .select("id").as[Long].collect().toSeq.sorted
  }

  test("createCheckpointDirectory makes the root and its parents with the modes " +
    "FileContext.mkdir gives, and returns the qualified root") {
    val tmp = tmpDir("graft-ckfm-root-")
    val conf = spark.sessionState.newHadoopConf()
    // scheme-less, as a query's checkpointLocation option usually is
    def root(side: String) = new Path(tmp.resolve(side).resolve("query").toString)
    val nio = new LocalCheckpointFileManager(root("nio"), conf).createCheckpointDirectory()
    val stock = new FileContextBasedCheckpointFileManager(root("stock"), conf)
      .createCheckpointDirectory()
    assert(nio == FileContext.getFileContext(conf).makeQualified(root("nio")))
    assert(nio.toUri.getScheme == "file" && stock.toUri.getScheme == "file")
    def mode(p: java.nio.file.Path): String = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(p))
    val (n, st) = (Paths.get(nio.toUri), Paths.get(stock.toUri))
    assert(Files.isDirectory(n))
    assert(mode(n) == mode(st) && mode(n.getParent) == mode(st.getParent),
      s"${mode(n)} ${mode(n.getParent)} vs ${mode(st)} ${mode(st.getParent)}")
  }

  test("a two-batch file drain leaves no .crc and no .tmp file in its checkpoint") {
    val tmp = tmpDir("graft-ckfm-drain-")
    val in = Files.createDirectories(tmp.resolve("in"))
    writeInput(in, 0, 10)
    val ckpt = tmp.resolve("ckpt")
    val ids = drain(in, tmp.resolve("out").toString, ckpt.toString,
      classOf[LocalCheckpointFileManager])
    assert(ids == (0L until 100L))
    val files = listing(ckpt)
    assert(files.contains("commits/1") && !files.contains("commits/2"),
      s"expected exactly two batches: $files")
    assert(!files.exists(f => f.endsWith(".crc") || f.endsWith(".tmp")),
      s"checksum or temp files left in the checkpoint: $files")
  }

  test("a drain resumes across the default and the java.nio manager, " +
    "in both directions, with no lost and no duplicated rows") {
    val sparkDefault = classOf[FileContextBasedCheckpointFileManager]
    val nio = classOf[LocalCheckpointFileManager]
    Seq(sparkDefault -> nio, nio -> sparkDefault).foreach { case (first, second) =>
      val tmp = tmpDir("graft-ckfm-resume-")
      val in = Files.createDirectories(tmp.resolve("in"))
      val ckpt = tmp.resolve("ckpt").toString
      writeInput(in, 0, 10)
      assert(drain(in, tmp.resolve("out1").toString, ckpt, first) == (0L until 100L))
      // each run publishes into its own dir, so a replayed batch would
      // show up as a duplicate rather than overwrite its earlier files
      writeInput(in, 10, 5)
      assert(drain(in, tmp.resolve("out2").toString, ckpt, second) == (100L until 150L),
        s"${first.getSimpleName} then ${second.getSimpleName}")
      assert(Files.exists(Paths.get(ckpt, "commits", "2")))
    }
  }
}
