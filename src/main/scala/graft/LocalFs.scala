package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell commands. Without
  * libhadoop, `RawLocalFileSystem` forks `chmod` in `setPermission` (every
  * create or mkdir with a permission: each parquet task attempt, each
  * checkpoint file) and `readlink` in `getFileLinkStatus` (every
  * `FileContext.rename`). Here permissions are set through `java.nio`, and
  * a path that is not a symlink gets `getFileStatus`, which is what Hadoop
  * returns when `readlink` prints nothing. A sticky bit and a real symlink
  * keep Hadoop's own code.
  *
  * `core-site.xml` installs it for `file:` under both Hadoop entry points:
  * `fs.file.impl` ([[ForkFreeLocalFileSystem]]) and
  * `fs.AbstractFileSystem.file.impl` ([[ForkFreeLocalFs]], the
  * `FileContext` that Spark's checkpoint file manager writes through).
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem`, so `FileSystem.getLocal`'s cast holds. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `local.LocalFs` over the
  * fork-free raw filesystem (Hadoop's constructors are package-private).
  * Hadoop's loader calls the `(URI, Configuration)` constructor; like
  * `local.LocalFs`, it serves `file:///` whatever the URI.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `local.RawLocalFs` with the fork-free filesystem as delegate. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///

  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  // Local filesystems differ in what names they accept; let the OS decide.
  override def isValidName(src: String): Boolean = true
}
