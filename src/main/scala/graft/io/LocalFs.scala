package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a subprocess per call.
  *
  * Without native libhadoop, the stock [[RawLocalFileSystem]] forks
  * `chmod` after every file create and `mkdir`, and forks `readlink`
  * for every `getFileLinkStatus` (four of those per
  * `FileContext.rename`). Those forks, not the disk, set the per-batch
  * floor of streaming WAL/commit-log writes, state-store delta commits
  * and the parquet commit protocol. The two overrides below do the same
  * work in-process with java.nio; symlinks and the sticky bit still take
  * the stock path. Everything else is the stock stack: the checksummed
  * wrappers ([[org.apache.hadoop.fs.LocalFileSystem]] / [[ChecksumFs]])
  * still write `.crc` sidecars, and rename/overwrite semantics are the
  * raw filesystem's own.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode Hadoop passes here already has the umask applied. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))

  /** For a path that is not a symlink the stock answer is
    * `getFileStatus`, after a `readlink` that prints nothing (FileContext
    * passes qualified `file:` paths, which `readlink` never resolves). */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** FileSystem API (`fs.file.impl`): the stock checksummed wrapper. */
class GraftLocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new GraftRawLocalFileSystem)

/** FileContext API (`fs.AbstractFileSystem.file.impl`): the stock
  * checksummed wrapper over [[GraftRawLocalFs]]. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are
  * package-private) over [[GraftRawLocalFileSystem]]. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
