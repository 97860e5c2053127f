package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem without a `chmod` subprocess per path.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand(chmod …)`, and Hadoop calls it for every file and
  * directory it creates. A day-partitioned parquet micro-batch of ~120
  * data files, their `.crc` siblings and ~120 partition directories forks
  * ~360 processes. The same mode is set here through `java.nio` (one
  * `chmod(2)`). Anything the nine `rwx` bits cannot say goes to `super`:
  * native IO being present, a sticky bit, a non-POSIX store, and a
  * directory already carrying set-uid/set-gid bits, which GNU `chmod`
  * keeps on directories for a 4-digit octal mode and `chmod(2)` clears.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val path = pathToFile(p).toPath
    def keepsSpecialBits: Boolean = {
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR, 06000
    }
    try {
      if (NativeIO.isAvailable || (bits & ~0x1ff) != 0 || keepsSpecialBits)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(path, perms(bits))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** The nine `rwx` bits of a mode as NIO permissions. `values` runs
    * OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 0400 down to 0001. */
  private def perms(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) s.add(perm)
    }
    s
  }
}

/** The `file:` binding [[SparkEntry.tune]] installs: Hadoop's checksummed
  * local filesystem (so `.crc` siblings are still written and verified)
  * over [[NioRawLocalFileSystem]]. */
class LocalFs extends LocalFileSystem(new NioRawLocalFileSystem)
