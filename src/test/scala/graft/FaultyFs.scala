package graft

import java.io.IOException
import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}

/** A filesystem that injects one fault at the `at`-th mutating operation
  * (rename or delete, counted from 1) it passes through, for crash-point
  * tests of `graft.fs.Generations.publish`. Wrap a real filesystem and hand
  * the wrapper to the code under test.
  *
  *  - [[FaultyFs.ReturnFalse]]: that operation is skipped and returns false,
  *    as a failed rename or delete does; later operations run normally.
  *  - [[FaultyFs.ThrowOnce]]: that operation is skipped and throws an
  *    `IOException`; later operations run normally.
  *  - [[FaultyFs.Die]]: that operation and every later one (lookups
  *    included) throw, as if the process was killed there — no restore or
  *    cleanup step runs.
  *
  * [[fired]] tells whether the fault was reached, so a test can enumerate
  * crash points by raising `at` until an operation sequence completes
  * without reaching it.
  */
final class FaultyFs(underlying: FileSystem, mode: FaultyFs.Mode, at: Int)
    extends FilterFileSystem(underlying) {

  private var ops = 0
  private var dead = false
  @volatile var fired = false

  private def alive(what: => String): Unit =
    if (dead) throw new IOException(s"injected crash: no $what after death")

  private def mutate(what: => String)(op: => Boolean): Boolean = {
    alive(what)
    ops += 1
    if (ops != at) op
    else {
      fired = true
      mode match {
        case FaultyFs.ReturnFalse => false
        case FaultyFs.ThrowOnce => throw new IOException(s"injected fault at $what")
        case FaultyFs.Die =>
          dead = true
          throw new IOException(s"injected crash at $what")
      }
    }
  }

  override def rename(src: Path, dst: Path): Boolean =
    mutate(s"rename $src -> $dst")(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    mutate(s"delete $p")(super.delete(p, recursive))

  override def getFileStatus(p: Path): FileStatus = {
    alive(s"getFileStatus $p")
    super.getFileStatus(p)
  }

  override def exists(p: Path): Boolean = {
    alive(s"exists $p")
    super.exists(p)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    alive(s"listStatus $p")
    super.listStatus(p)
  }
}

object FaultyFs {
  sealed trait Mode
  case object ReturnFalse extends Mode
  case object ThrowOnce extends Mode
  case object Die extends Mode
  val modes: Seq[Mode] = Seq(ReturnFalse, ThrowOnce, Die)

  /** A wrapper factory for code that takes `FileSystem => FileSystem`. */
  def at(mode: Mode, at: Int): FileSystem => FileSystem = new FaultyFs(_, mode, at)
}
