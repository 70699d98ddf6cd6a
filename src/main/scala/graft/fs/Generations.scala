package graft.fs

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}

/** The engine's one crash-safe publish: a directory generation written at a
  * staging path replaces the live generation at `target` by rename. Asset
  * builds (`AssetStore.loadOrBuild`) and the keyed streaming upserts
  * (`EventsStream.mergeGeneration`) both publish through it.
  *
  * A generation is a directory holding the [[Marker]]; a target directory
  * without it (created empty, or left partial) counts as absent. The live
  * generation is renamed aside to `target.old` before the swap and deleted
  * only after the new one has landed, so after a crash at any point
  * [[current]] reads the old generation or the new one, never none and
  * never a mix: a stale aside beside a live target (a crash before the
  * aside's delete) is ignored, and the aside alone (a crash between the two
  * renames) is the previous generation. A staging directory is never read.
  * `GenerationsSpec` enumerates every single and double crash point of
  * [[publish]] with a fault-injecting filesystem.
  */
object Generations {

  /** The completeness marker a staging directory must hold (the one
    * Spark's output committer writes on a successful job). */
  val Marker = "_SUCCESS"

  /** Where [[publish]] sets the live generation aside. */
  def aside(target: Path): Path = target.suffix(".old")

  /** The last published generation: the target, else its aside, else
    * nothing — each only when it holds the [[Marker]]. */
  def current(fs: FileSystem, target: Path): Option[Path] =
    Seq(target, aside(target)).find(p => fs.exists(new Path(p, Marker)))

  /** Swaps the complete generation at `staging` in at `target`. Returns
    * false when a concurrent publisher's generation won (the rename landed
    * inside a directory it created at `target`); this call's generation is
    * then discarded. Throws when a rename or delete fails; [[current]] then
    * reads the previous generation, or the new one when only the final
    * delete of the aside failed.
    */
  def publish(fs: FileSystem, staging: Path, target: Path): Boolean = {
    if (!fs.exists(new Path(staging, Marker)))
      throw new IOException(s"refusing to publish $staging: no $Marker")
    val old = aside(target)
    // A live target (one holding the marker, as in [[current]]) makes the
    // aside stale: clear it and set the target aside. Otherwise the aside is
    // the last generation and stays until the swap lands; a marker-less
    // target is cleared so the swap cannot land inside it.
    val live = fs.exists(new Path(target, Marker))
    if (live) {
      if (fs.exists(old) && !fs.delete(old, true))
        throw new IOException(s"failed to clear stale $old")
      if (!fs.rename(target, old))
        throw new IOException(s"failed to set aside $target")
    } else if (fs.exists(target) && !fs.delete(target, true))
      throw new IOException(s"failed to clear $target, which holds no generation")
    try {
      if (!fs.rename(staging, target))
        throw new IOException(s"failed to publish $staging over $target")
    } catch {
      case e: IOException =>
        // put the previous generation back before failing
        if (live)
          try fs.rename(old, target) catch { case r: IOException => e.addSuppressed(r) }
        throw e
    }
    // Hadoop renames onto an existing directory by moving the source INSIDE
    // it: a concurrent publisher created the target after the set-aside
    val nested = new Path(target, staging.getName)
    val won = !fs.exists(nested)
    if (!won) fs.delete(nested, true)
    fs.delete(old, true)
    won
  }
}
