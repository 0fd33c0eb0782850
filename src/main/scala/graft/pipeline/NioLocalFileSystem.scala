package graft.pipeline

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free `file:` filesystem. Spark ships without `libhadoop`, so the
  * stock `RawLocalFileSystem` falls back to the shell for two calls that
  * sit on every local write:
  *
  *  - `setPermission` runs `chmod` in a child process on every file create
  *    and every mkdir;
  *  - `getFileLinkStatus` runs `readlink` (twice per path under
  *    `FileContext.rename`) — handed the `file:/…` string of a qualified
  *    path, which names no file, so it always answers "not a link".
  *
  * Each streaming offset-log and commit-log entry forked 10 processes, and
  * each parquet micro-batch about 13 more. This subclass keeps the stock
  * behaviour and drops the forks: the 9 rwx bits go through
  * `Files.setPosixFilePermissions` (chmod(2), following links like chmod(1)
  * does), and a path that is not a symlink gets `getFileStatus` — what the
  * stock code returns for it once `readlink` comes back empty. Sticky bits
  * and real symlinks still take the stock path. Renames (`File.renameTo`),
  * checksum files and the modes written are unchanged.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val rwx = (8 to 0 by -1).map(i => if ((mode >> i & 1) == 1) "rwx"(2 - i % 3) else '-')
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx.mkString))
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[NioRawLocalFileSystem]].
  * The class it replaces in Spark's Hive-bundled distribution is Hive's
  * `ProxyLocalFileSystem`, which refuses a rename onto an existing file
  * (as HDFS does) where `LocalFileSystem` would replace it; that rule is
  * kept, so renames behave as before.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The `FileContext` side (`fs.AbstractFileSystem.file.impl`), which the
  * streaming checkpoint manager writes through: the stock `RawLocalFs`
  * adapter, restated over [[NioRawLocalFileSystem]] because its
  * constructors are package-private.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem`, as the stock `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
