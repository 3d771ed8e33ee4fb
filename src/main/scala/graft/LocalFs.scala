package graft

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its process forks. Without the
  * native `libhadoop`, `setPermission` runs `/bin/chmod` for every file and
  * directory it creates, and `getFileLinkStatus` (every `FileContext`
  * rename) runs `readlink`. Here both stay in the JVM:
  *   - `setPermission` sets the same nine mode bits through
  *     `Files.setPosixFilePermissions`, as libhadoop's chmod(2) would; a
  *     sticky bit, which that API cannot express, still goes to `super`;
  *   - `getFileLinkStatus` of a path that is not a symbolic link returns
  *     `getFileStatus`, which is what `super` returns for it after its
  *     `readlink`; links, dangling ones too, still go to `super`.
  * Everything else, `.crc` checksums included, is Hadoop's own code.
  * [[GraftSession]] registers the two wrappers below for `file://`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      attribute.PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[ForkFreeRawLocalFileSystem]];
  * a `LocalFileSystem`, so `FileSystem.getLocal` still casts.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` twin of
  * [[ForkFreeLocalFileSystem]], built as Hadoop builds `LocalFs` over
  * `RawLocalFs`. Spark's default checkpoint file manager writes offsets,
  * commits and state files through this API. Hadoop constructs it with
  * (URI, Configuration); like `LocalFs`, it serves `file:///` whatever the URI.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (same port, server defaults and name check) over
  * [[ForkFreeRawLocalFileSystem]].
  */
private class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
