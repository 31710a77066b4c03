package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without process forks. Without the
  * native `libhadoop`, `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` (so for every create and mkdir that carries a
  * permission) and `readlink` for every `getFileLinkStatus` (FileContext's
  * rename and create call it on both ends). Both have a `java.nio`
  * equivalent; anything `java.nio` cannot express keeps the parent's
  * behaviour. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `Files.setPosixFilePermissions`, which, like `chmod`,
    * follows symlinks. The sticky bit has no `PosixFilePermission`, and a
    * file store without POSIX attributes has no view to set: both fall
    * back to the parent. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** The nine rwx bits of a mode; `PosixFilePermission` lists them from
    * OWNER_READ (bit 8) down to OTHERS_EXECUTE (bit 0). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (1 << (8 - p.ordinal))) != 0) s.add(p))
    s
  }

  /** For anything but a symlink the parent's answer is `getFileStatus(f)`
    * once `readlink` printed nothing; `Files.isSymbolicLink` answers that
    * question without a fork. Symlinks, dangling ones included, still go
    * to the parent; a missing path fails in `getFileStatus` with
    * `FileNotFoundException`, as before. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file` scheme's FileContext filesystem over [[NioRawLocalFileSystem]]:
  * Hadoop's `LocalFs` (`.crc` checksums over `RawLocalFs`) with the raw
  * layer swapped. `RawLocalFs`'s constructors are package-private, so its
  * overrides are repeated here. Install it with
  * `fs.AbstractFileSystem.file.impl` (see [[graft.Engine.init]]). Hadoop
  * builds it by reflection from `(URI, Configuration)`; like `LocalFs` it
  * always serves `file:///`, whatever URI it is given. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1 // file:/// has no port
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      // local filesystems differ in what names they accept: leave it to the OS
      override def isValidName(src: String): Boolean = true
    })
