package graft.hadoop

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` `AbstractFileSystem` (`org.apache.hadoop.fs.local.LocalFs`:
  * `ChecksumFs` over a raw local delegate) without its process forks.
  * Without libhadoop, `RawLocalFileSystem` shells out `readlink` for every
  * `getFileLinkStatus`, which each `FileContext` rename calls, and `chmod`
  * for every `setPermission`; Spark's `FileContext` checkpoint manager
  * pays about a dozen forks per state-store delta commit. [[LocalFs.RawFileSystem]]
  * answers both calls in-process. Checksums, `.crc` files and atomic
  * renames are Hadoop's own. Select it with
  * `fs.AbstractFileSystem.file.impl=graft.hadoop.LocalFs`. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawFs(uri, conf))

/** The `FileSystem`-API twin of [[LocalFs]]: Hadoop's `file:`
  * `FileSystem` (`org.apache.hadoop.fs.LocalFileSystem`, a
  * `ChecksumFileSystem` over a raw local filesystem) over
  * [[LocalFs.RawFileSystem]]. Every `create` and `mkdirs` then sets its
  * mode in-process instead of forking `chmod`, once for the file and once
  * for its `.crc`. Checksums, `.crc` files and renames are Hadoop's own.
  * Selecting it with `fs.file.impl` needs `fs.file.impl.disable.cache=true`
  * next to it, or Hadoop's FileSystem cache hands the instance to every
  * later `file:` user of the JVM. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFs.RawFileSystem)

object LocalFs {
  private val rwx = PosixFilePermission.values() // owner r, w, x ... others x

  /** `RawLocalFileSystem` with `setPermission` through `java.nio` and
    * `getFileLinkStatus` of a non-symlink equal to `getFileStatus`, which
    * is what Hadoop returns when `readlink` prints nothing. Sticky bits,
    * real symlinks and non-POSIX filesystems fall through to Hadoop. */
  class RawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- rwx.indices if (mode & (1 << (8 - i))) != 0) perms.add(rwx(i))
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[RawFileSystem]]. */
  private class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "Hadoop 2.7")
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
