package graft.sinks

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the per-call process forks.
  *
  * Spark ships without libhadoop, so the stock `RawLocalFileSystem` sets
  * every permission by forking `chmod` — once per file created (data,
  * `.crc`, `_SUCCESS`, checkpoint log) and once per directory made — and
  * answers `getFileLinkStatus`, which every `FileContext` rename of a
  * streaming checkpoint file asks twice, by forking `readlink`. A 9-way
  * fan-out micro-batch paid for a few hundred forks that way. Both
  * answers are available in-process through `java.nio.file`:
  *  - permissions are set with `Files.setPosixFilePermissions` — the same
  *    nine bits `chmod` would set. The sticky bit has no NIO spelling, so
  *    a sticky permission still goes through the stock path;
  *  - a path that is not a symlink has a link status equal to its file
  *    status (what the stock code returns once `readlink` prints
  *    nothing); symlinks still go through the stock path.
  *
  * Checksums, the commit protocol and the permission bits are those of
  * the stock filesystem; [[graft.EngineDefaults]] registers the two
  * wrappers below for the `file:` scheme. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` (`fs.file.impl`): Hadoop's
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The checksummed `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`)
  * that `FileContext` uses — Spark's streaming checkpoint logs and state
  * store go through it. Hadoop's `LocalFs` with the raw layer swapped;
  * like `LocalFs` it always serves `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]], with the same overrides. */
private[sinks] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  // The OS validates local names, as RawLocalFileSystem leaves it to.
  override def isValidName(src: String): Boolean = true
}
