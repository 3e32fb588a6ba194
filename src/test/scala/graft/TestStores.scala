package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.cdc.{MetaStore, PosixMetaStore}

/** The POSIX metadata store with every mutating call (putIfAbsent, replace,
  * create, delete) recorded as a step, and `before` run ahead of it: the
  * seam through which tests reach inside a commit. */
class HookedStore extends MetaStore {
  val steps = mutable.ArrayBuffer.empty[String]
  protected def before(op: String, p: Path): Unit = ()
  private def step(op: String, p: Path): Unit = { steps += op; before(op, p) }

  def putIfAbsent(p: Path, content: String): Unit = { step("putIfAbsent", p); PosixMetaStore.putIfAbsent(p, content) }
  def replace(p: Path, content: String): Unit = { step("replace", p); PosixMetaStore.replace(p, content) }
  def create(p: Path, content: String): Unit = { step("create", p); PosixMetaStore.create(p, content) }
  def delete(p: Path): Unit = { step("delete", p); PosixMetaStore.delete(p) }
  def read(p: Path): Option[String] = PosixMetaStore.read(p)
  def list(dir: Path): Seq[String] = PosixMetaStore.list(dir)
}

final class InjectedCrash(k: Int, op: String) extends RuntimeException(s"injected crash at metadata step $k ($op)")

/** Dies at its k-th mutating call, before that call takes effect. */
final class CrashingStore(k: Int) extends HookedStore {
  override protected def before(op: String, p: Path): Unit =
    if (steps.size == k) throw new InjectedCrash(k, op)
}

/** A concurrent writer that wins the race for `claim`: it publishes
  * `rival` there just before this store's own claim of the same file. */
final class RivalAtClaim(claim: Path, rival: String) extends HookedStore {
  override protected def before(op: String, p: Path): Unit =
    if (op == "putIfAbsent" && p == claim) { Files.writeString(p, rival); () }
}
