package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system whose raw layer sets permissions
  * through java.nio. Without Hadoop's native library, `RawLocalFileSystem`
  * starts a `chmod` child process for every directory it makes and every
  * file it creates (part files, `.crc` files, `_SUCCESS`), which is how the
  * parquet commit protocol spends most of its forks. Registered for every
  * graft session by [[GraftSession.builder]] as `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `setPermission` is `Files.setPosixFilePermissions` for the rwx bits;
    * a sticky bit, or a file system without POSIX attributes, keeps
    * Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try {
        Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort)); ()
      } catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new FileNotFoundException(s"$p: ${e.getMessage}")
      }
  }

  // PosixFilePermission's constants run OWNER_READ … OTHERS_EXECUTE, the
  // order of the mode bits 0400 … 0001
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}
