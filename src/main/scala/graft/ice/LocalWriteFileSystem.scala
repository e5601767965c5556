package graft.ice

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with permission bits set
  * in-process. Without libhadoop on the classpath, stock
  * `RawLocalFileSystem.setPermission` forks `/bin/chmod` for every file it
  * creates (data file and `.crc` sidecar alike) and every directory it
  * makes — 2.5-6 ms per fork, more than writing a small data file costs.
  * Here the same bits (umask already applied by the caller, from the same
  * conf) go through `Files.setPosixFilePermissions`; checksums, rename,
  * listing and everything else are the stock classes'.
  *
  * Used only for the engine's own data-file writes on a `file:` root whose
  * session leaves `fs.file.impl` unset (see `IceTable.writeDataFiles`). */
class LocalWriteFileSystem extends LocalFileSystem(new LocalWriteFileSystem.Raw)

object LocalWriteFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      // sticky/setuid bits have no PosixFilePermission: keep the stock path
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** The nine rwx bits of `bits` as a POSIX permission set
    * (`PosixFilePermission.values` runs owner-read → others-execute, i.e.
    * from bit 8 down to bit 0). */
  def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (1 << (8 - i))) != 0) s.add(perm)
    }
    s
  }
}
