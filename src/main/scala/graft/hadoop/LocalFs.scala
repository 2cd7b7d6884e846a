package graft.hadoop

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` `AbstractFileSystem` (`org.apache.hadoop.fs.local.LocalFs`:
  * `ChecksumFs` over a raw local delegate) without its process forks.
  * Without libhadoop, `RawLocalFileSystem` shells out `readlink` for every
  * `getFileLinkStatus`, which each `FileContext` rename calls, `chmod`
  * for every `setPermission`, and `ls -ld` for the first permission, owner
  * or group read of a status; Spark's `FileContext` checkpoint manager
  * pays about a dozen forks per state-store delta commit. [[LocalFs.RawFileSystem]]
  * answers these calls in-process. Checksums, `.crc` files and atomic
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

  /** `RawLocalFileSystem` with `setPermission` through `java.nio`,
    * `getFileLinkStatus` of a non-symlink equal to `getFileStatus`, which
    * is what Hadoop returns when `readlink` prints nothing, and statuses
    * whose mode, owner and group come from the file's POSIX attributes
    * (what Hadoop parses out of `ls -ld`). Setting a sticky bit, real
    * symlinks and non-POSIX filesystems fall through to Hadoop. */
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

    /** Hadoop's status, built without loading permissions, completed from
      * the attributes of the resolved file, which is what Hadoop runs
      * `ls -ld` on. The `unix` view is the POSIX view plus the mode word,
      * which carries the sticky bit that `PosixFileAttributes` drops. */
    override def getFileStatus(f: Path): FileStatus = {
      val st = super.getFileStatus(f)
      val attrs =
        try Files.readAttributes(pathToFile(f).toPath, "unix:mode,owner,group")
        catch { case _: UnsupportedOperationException => return st }
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime,
        new FsPermission((attrs.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
        attrs.get("owner").asInstanceOf[UserPrincipal].getName,
        attrs.get("group").asInstanceOf[GroupPrincipal].getName, st.getPath)
    }

    /** A directory's entries come through [[getFileStatus]] already;
      * Hadoop answers a plain file with the same status `getFileStatus`
      * gives. */
    override def listStatus(f: Path): Array[FileStatus] =
      if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

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
