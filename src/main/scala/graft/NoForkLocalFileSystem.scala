package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `file:` filesystem, except that setting a permission does
  * not fork a process. Without the native `libhadoop`,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process,
  * and it is called for every file it creates (the data file and its
  * `.crc`) and every directory it makes. Here the nine rwx bits are set
  * through `java.nio` instead, so the bits on disk are the same and only
  * the fork goes away. Create, rename, delete and listing are inherited
  * unchanged. Registered by [[GraftSession.localFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

object NoForkLocalFileSystem {

  /** `RawLocalFileSystem` whose only override is `setPermission`. It
    * defers to Hadoop when native IO is loaded (no fork there either),
    * when the mode carries a bit outside rwx (sticky: `java.nio` cannot
    * set it), or when the store is not POSIX. */
  private[graft] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // values() runs owner r/w/x, group r/w/x, others r/w/x: bits 8 to 0
        val bits = new java.util.HashSet[PosixFilePermission]()
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((mode & (0x100 >> i)) != 0) bits.add(perm)
        }
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, bits); () }
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
