package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local filesystem: Hadoop's, minus the child processes.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` shells out for
  * two calls every file commit makes: `setPermission` runs `chmod` after
  * each file or directory it creates, and `getFileLinkStatus` runs
  * `readlink` (on each path of every `FileContext` rename, which is how
  * Spark commits checkpoint and state-store files). Here both are answered
  * in-process with `java.nio`, with the same outcome; the two cases
  * `java.nio` cannot express (a sticky bit, a real symlink) still go to
  * Hadoop's code. `.crc` checksums are written as before.
  *
  * [[Confs]] binds it for both Hadoop APIs; `GraftSession.builder` sets
  * them. */
object LocalFs {
  val Confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}

/** `RawLocalFileSystem` whose permission and link checks start no process. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The bits arrive already umasked; apply them as `chmod` would (it
    * follows a symlink, and so does `setPosixFilePermissions`). */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))

  /** A path that is not a symlink has the link status of its own status:
    * what Hadoop returns once `readlink` prints nothing. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: checksummed, like Hadoop's `LocalFileSystem`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` API): checksummed,
  * like Hadoop's `LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
