package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a child process per chmod.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod`
  * through `org.apache.hadoop.util.Shell`, and every local create and
  * mkdirs calls it: a parquet write or a checkpoint commit forks a
  * process per file. This filesystem sets the same permission bits
  * through `java.nio.file`; everything else is Hadoop's.
  * [[graft.GraftSession.builder]] makes it the `file:` filesystem.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews().contains("posix")

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: the i-th constant is mode bit 8 - i
  private val bits = PosixFilePermission.values().toSeq.zipWithIndex.map { case (p, i) => p -> (1 << (8 - i)) }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // sticky/setuid bits (above 0777) have no java.nio form
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        bits.foreach { case (perm, bit) => if ((mode & bit) != 0) set.add(perm) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      }
    }
  }
}
