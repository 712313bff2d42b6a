package graft.storage

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem graft sessions mount: Hadoop's checksummed
  * [[LocalFileSystem]] over a raw filesystem that sets permissions
  * in-process. Without Hadoop's native library, the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` child for every
  * file `create` opens, every `.crc` sidecar and every directory
  * `mkdirs` makes, at milliseconds each. Hadoop applies the umask
  * before it calls `setPermission`, so the bits on disk are the same
  * either way; `.crc` sidecars are written and verified as before.
  *
  * `rename` refuses an existing destination file, as the `file:` mount
  * on Spark's classpath (Hive's `ProxyLocalFileSystem`) does, so a
  * session sees the same rename contract with or without this class. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile
      catch { case _: java.io.FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

object NioLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` whose only change is `setPermission`: the
    * nine rwx bits go through `Files.setPosixFilePermissions`; a
    * sticky bit, which NIO cannot express, or a filesystem without a
    * POSIX view take the stock path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val bits = new java.util.HashSet[PosixFilePermission]()
        // OWNER_READ .. OTHERS_EXECUTE is bit 8 .. bit 0 of the mode
        PosixFilePermission.values.foreach { b =>
          if ((mode >> (8 - b.ordinal) & 1) == 1) bits.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      }
    }
  }
}
