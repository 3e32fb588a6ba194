package graft.cdc

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without forked processes. Without Hadoop's native
  * library, `RawLocalFileSystem` shells out to `chmod` for every file and
  * directory it creates and to `readlink` for every link-status lookup (each
  * checkpoint rename). Here the same mode bits are set through `java.nio`,
  * and a path that is not a symlink gets the status `readlink`'s empty answer
  * would have produced. Everything else is `RawLocalFileSystem`: no `.crc`
  * sidecars, plain POSIX rename. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    // java.nio cannot set the sticky bit; such a mode keeps Hadoop's path
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try {
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
      ()
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileContext` binding of [[ForkFreeLocalFileSystem]] (what `RawLocalFs`
  * is to `RawLocalFileSystem`): streaming checkpoints write and rename their
  * offset and commit files through it. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The one place the `file:` scheme is bound to the fork-free classes. On
  * deployments whose tables and checkpoints live on HDFS or object stores
  * these keys are inert. */
object ForkFreeLocalFs {
  /** `FileSystem` binding (Spark reads and writes, via per-source options or
    * a Hadoop conf). The FileSystem cache is keyed by scheme, authority and
    * user, not by the bound class, so a cached default `file:` instance
    * would otherwise win over the binding. */
  val fileSystemConf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `FileContext` binding (streaming checkpoint managers). */
  val fileContextConf: (String, String) =
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName
}
