package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's checksummed
  * [[LocalFileSystem]] over a raw filesystem that sets permissions
  * in-process. Stock `RawLocalFileSystem.setPermission` forks
  * `chmod` whenever libhadoop is not loaded, and every `create` (a part
  * file and its `.crc`) and every permissioned `mkdirs` of a parquet
  * write's commit protocol calls it: ~100 forked processes per
  * overwrite VcPipeline run. [[LocalFs.Raw]] applies the same 9 mode bits
  * with `Files.setPosixFilePermissions`. `.crc` files are written and
  * verified as before. [[graft.core.GraftSession.builder]] registers it
  * as `fs.file.impl`. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** 0777: the permission bits NIO sets. */
  private val PermissionBits = 0x1ff

  /** `RawLocalFileSystem` with an in-process `setPermission`. A mode with
    * bits above 0777 (sticky, setuid, setgid), which NIO cannot set, and
    * a filesystem without POSIX attributes keep Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~PermissionBits) != 0) super.setPermission(p, permission)
      else
        // with no bit above 0777, toString is the 9-letter "rwxr-x---" form
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
