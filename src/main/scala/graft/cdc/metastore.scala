package graft.cdc

import java.nio.file._
import java.util.UUID
import scala.jdk.CollectionConverters._

/** The one place a small metadata file is published — snapshots, per-bucket
  * manifests, the `_CURRENT` hint, the checkpoint ledger, the LSN watermark
  * — modelled on Delta Lake's LogStore. Mutating calls create missing
  * parent directories. Serializable: the `$files` metadata table and the
  * LSN watermark read on executors. */
private[graft] trait MetaStore extends Serializable {
  /** Publish `p` only if absent: a lost race throws `FileAlreadyExistsException`. */
  def putIfAbsent(p: Path, content: String): Unit
  /** Atomic replace: a reader sees the old bytes or the new ones. */
  def replace(p: Path, content: String): Unit
  /** Plain write, for a uuid-named file no reader reaches before a claim references it. */
  def create(p: Path, content: String): Unit
  /** None when `p` does not exist. */
  def read(p: Path): Option[String]
  /** Entry names directly under `dir`; empty when it is absent. */
  def list(dir: Path): Seq[String]
  def delete(p: Path): Unit
}

/** The local (POSIX) filesystem store. */
private[graft] object PosixMetaStore extends MetaStore {
  def putIfAbsent(p: Path, content: String): Unit = {
    val tmp = writeTemp(p, content)
    // a hard link is atomic AND refuses an existing target, unlike
    // ATOMIC_MOVE (which silently replaces). Filesystems without hard links
    // (some FUSE/NFS/SMB mounts) fall back to an O_EXCL CREATE_NEW write:
    // the same claim, with a tiny torn-file window on a crash mid-write,
    // which readers treat as not yet claimed.
    try Files.createLink(p, tmp)
    catch {
      case e: FileAlreadyExistsException => throw e
      case _: UnsupportedOperationException | _: FileSystemException =>
        Files.writeString(p, content, StandardOpenOption.CREATE_NEW)
    } finally Files.deleteIfExists(tmp)
  }

  def replace(p: Path, content: String): Unit =
    Files.move(writeTemp(p, content), p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

  def create(p: Path, content: String): Unit = { mkParent(p); Files.writeString(p, content) }

  def read(p: Path): Option[String] =
    try Some(Files.readString(p)) catch { case _: NoSuchFileException => None }

  def list(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close() }

  def delete(p: Path): Unit = { Files.deleteIfExists(p); () }

  private def mkParent(p: Path): Unit = Option(p.getParent).foreach(Files.createDirectories(_))

  private def writeTemp(p: Path, content: String): Path = {
    mkParent(p)
    Files.writeString(p.resolveSibling(s".tmp-${UUID.randomUUID()}"), content)
  }
}
