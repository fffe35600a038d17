package graft.streaming

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Streaming metadata logs (offsets, commits, source and sink logs, state
  * store deltas) on `file:` paths, written through java.nio. Hadoop's
  * local file system without its native library sets permissions and
  * resolves links by starting `chmod` and `readlink` child processes, tens
  * of milliseconds per atomic log write; a temp write plus a link or
  * rename here takes well under a millisecond. Every other scheme goes to Spark's
  * `FileContext` manager unchanged. Registered for every graft session by
  * [[graft.GraftSession.builder]] through
  * `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): Option[NioPath] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  /** The temp file is fsynced on close, before it is linked or renamed. */
  override def createTempFile(p: Path): FSDataOutputStream =
    local(p).fold(super.createTempFile(p)) { f =>
      val file = new FileOutputStream(f.toFile) {
        override def close(): Unit = { if (getFD.valid()) getFD.sync(); super.close() }
      }
      new FSDataOutputStream(new BufferedOutputStream(file), null)
    }

  /** No-clobber is a hard link, which fails atomically when `dst` exists;
    * the failure is Hadoop's `FileAlreadyExistsException`, the signal
    * `HDFSMetadataLog` reads as a concurrent writer. Overwrite is an
    * atomic rename. */
  override def renameTempFile(src: Path, dst: Path, overwrite: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) if overwrite =>
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE); ()
      case (Some(s), Some(d)) =>
        try { Files.createLink(d, s); () }
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists").initCause(e)
        } finally { Files.deleteIfExists(s); () }
      case _ => super.renameTempFile(src, dst, overwrite)
    }

  override def mkdirs(p: Path): Unit =
    local(p).fold(super.mkdirs(p)) { d => Files.createDirectories(d); () }

  /** The checkpoint root, created once per query start. */
  override def createCheckpointDirectory(): Path = {
    val qualified = fc.makeQualified(path)
    local(qualified).fold(super.createCheckpointDirectory()) { d =>
      Files.createDirectories(d); qualified
    }
  }
}
