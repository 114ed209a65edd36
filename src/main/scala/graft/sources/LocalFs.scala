package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system: Hadoop's local file system with its
  * two shell-outs replaced by java.nio. Without libhadoop,
  * `RawLocalFileSystem` forks `chmod` for every `setPermission` (so for
  * every `create` and `mkdirs` with a mode) and `readlink` for every
  * `getFileLinkStatus` (every FileContext rename). Spark's streaming
  * offset, commit and metadata logs write through exactly those calls, and
  * each fork costs milliseconds in a large JVM. Everything else is
  * Hadoop's own code (checksums, listing, symlinks), and `rename` keeps
  * the semantics of the FileSystem this one replaces.
  *
  * `src/main/resources/core-site.xml` binds the `file:` FileSystem to
  * [[ForkFreeLocalFileSystem]] and the `file:` AbstractFileSystem (what a
  * FileContext uses) to [[ForkFreeLocalFs]]. Hadoop loads that file into
  * every `Configuration` in the JVM, which is the only way to reach the
  * `file:` FileSystem that SparkContext start-up caches JVM-wide before
  * any session code runs. A `core-site.xml` earlier on the classpath (a
  * cluster's) shadows it and the forks come back; `ForkFreeLocalIoSpec`
  * fails then. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through java.nio. java.nio cannot set the sticky bit, so a
    * sticky mode keeps Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  /** A path that is not a symlink has its `getFileStatus` as link status,
    * which is what Hadoop returns once `readlink` prints nothing; a missing
    * path throws `FileNotFoundException` from there too. Symlinks keep
    * Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` FileSystem: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]]. Its `rename` onto an existing file
  * returns false and changes nothing, as the `file:` FileSystem that
  * Spark's jars register does (hive-exec's `ProxyLocalFileSystem`, which
  * resolves when nothing binds `file:`): `SeenFileLog` publishes a
  * segment by that rename and must not replace a concurrent writer's. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** Hadoop's `RawLocalFs` (package-private there) over
  * [[ForkFreeRawLocalFileSystem]]: the FileContext view of it. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The `file:` AbstractFileSystem: Hadoop's `LocalFs`, a `ChecksumFs`
  * over [[ForkFreeRawLocalFs]]. Hadoop builds it reflectively from
  * `(URI, Configuration)`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
