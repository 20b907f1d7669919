package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, checksums (`.crc` files) included, whose raw
  * layer sets permission bits through `java.nio` instead of a `chmod`
  * process. Without a native Hadoop library, `RawLocalFileSystem` forks
  * `chmod` for every file it creates with a mode and every directory it
  * makes, so every state-store delta, checkpoint log entry and parquet part
  * file cost a fork. [[LocalFs.startStream]] runs local queries on it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with `setPermission` through `java.nio`. A mode
    * with bits outside `0777` (sticky, setuid), which `java.nio` cannot
    * set, or a file store without POSIX permissions takes Hadoop's own path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // declared as owner rwx, group rwx, others rwx: mode bits 8 down to 0
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(perm)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
