package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * The `file:` filesystem without a process per file. Without
 * `libhadoop`, stock `RawLocalFileSystem` forks `chmod` for every file
 * and directory it creates (`setPermission`), and `getFileLinkStatus`
 * forks `readlink`, which every `FileContext` rename calls twice; each
 * fork costs milliseconds, and a table write or a streaming checkpoint
 * commit makes dozens of them. These two calls go through NIO instead,
 * with the same result; everything else is the stock class.
 * `GraftSession.builder()` registers it for both Hadoop APIs.
 */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The permission bits through NIO. The sticky bit, which NIO cannot
   * set, stays with the stock call. Follows links, like `chmod`. The
   * bits come from `toShort`, as the stock call's do: `toString` is not
   * always the `rwxr-x---` form (`FsCreateModes` overrides it). */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val rwx = (8 to 0 by -1).map(b => if ((mode >> b & 1) == 1) "rwx"((8 - b) % 3) else '-')
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(rwx.mkString))
    }

  /** A path that is not a symlink has its plain status, which is what
   * the stock call returns once its forked `readlink` prints nothing; a
   * real link keeps the stock resolution. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (the checksummed `FileSystem` API) over the
 * fork-free raw filesystem: the class `fs.file.impl` names. Without that
 * setting the bundled `hive-exec` jar registers Hive's
 * `ProxyLocalFileSystem` for `file:`, whose constructor hard-codes the
 * stock raw class; its one change, kept here, is that a rename onto an
 * existing file returns false (as on HDFS) instead of replacing it. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val ontoFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !ontoFile && super.rename(src, dst)
  }
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over the fork-free raw
 * filesystem; the stock class hard-codes `new RawLocalFileSystem()`. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `org.apache.hadoop.fs.local.LocalFs` (the checksummed `FileContext`
 * API, used by streaming checkpoints) over [[ForkFreeRawLocalFs]]; the
 * stock constructors are package-private. Like the stock class it
 * ignores the URI it is handed and serves `file:///`. The class
 * `fs.AbstractFileSystem.file.impl` names. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
