package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` file system without process starts.
  *
  * Without Hadoop's native library, the stock `RawLocalFileSystem` starts
  * a `chmod` process for every file and directory it creates, and a
  * `readlink` process per link-status lookup (every `FileContext` rename
  * makes several). The `readlink` always fails: Hadoop passes it the
  * `file:/…` URI string as the path, so the stock answer is the plain
  * file status. Each start costs ~3 ms in a multi-GB JVM, and a streaming
  * replay makes hundreds (checkpoint and state-store files). This class
  * answers both calls through `java.nio`:
  *   - [[setPermission]] sets the nine rwx bits with
  *     `Files.setPosixFilePermissions`. `java.nio` cannot express the
  *     sticky bit, so a mode with it still goes through the stock `chmod`.
  *   - [[getFileLinkStatus]] is [[getFileStatus]], which equals the stock
  *     answer for every path that is not a symbolic link. Symbolic links
  *     are not supported: a link, creating one, or asking for a link
  *     target fails loudly instead of returning the target's status.
  * Everything else (create, rename, delete, listing, times) is the stock
  * code. [[graft.Session]] installs the checksummed wrappers below.
  */
class ForkFreeRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus = {
    if (Files.isSymbolicLink(pathToFile(f).toPath))
      throw new UnsupportedOperationException(s"$f is a symbolic link; symbolic links are not supported")
    getFileStatus(f)
  }

  /** Throws like the stock call: the path is not a link, or it is one. */
  override def getLinkTarget(f: Path): Path = getFileLinkStatus(f).getSymlink

  override def supportsSymlinks(): Boolean = false

  override def createSymlink(target: Path, link: Path, createParent: Boolean): Unit =
    throw new UnsupportedOperationException(s"symbolic links are not supported ($link -> $target)")
}

/** The checksummed `FileSystem` over [[ForkFreeRawLocalFileSystem]]: what
  * `org.apache.hadoop.fs.LocalFileSystem` is over the stock raw one
  * (`.crc` siblings included). */
class ForkFreeLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` (`FileContext`) twin of
  * [[ForkFreeLocalFileSystem]], built as `org.apache.hadoop.fs.local.LocalFs`
  * is: checksummed, over a delegate to the raw file system. Spark's
  * default streaming checkpoint manager writes through this API. Hadoop
  * instantiates it by reflection with a (URI, Configuration) constructor;
  * like Hadoop's, it ignores the URI and serves `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
private[io] class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
