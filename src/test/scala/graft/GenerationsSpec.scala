package graft

import java.nio.file.{Files, Paths}
import scala.util.{Success, Try}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.fs.{Generations, LocalFs}

/** The one crash-safe publish (`graft.fs.Generations`), checked at every
  * crash point with [[FaultyFs]]: from each starting state a publish can
  * meet, a fault at each of its renames and deletes — skipped and reported
  * false, thrown once, or a crash that stops every later operation — leaves
  * [[Generations.current]] reading a complete generation: the one served
  * before the publish or the one being published, never none and never a
  * mix. Every such state is then hit by a recovery publish that faults at
  * each of its points again, and a clean publish afterwards converges and
  * leaves nothing beside the target.
  */
class GenerationsSpec extends AnyFunSuite {

  private val fs: FileSystem =
    new Path("file:///").getFileSystem(LocalFs.hadoopConf(new Configuration()))

  private val Parts = 3

  private def staging(target: Path): Path = target.suffix(".staging")

  /** A complete generation `g` at `dir`: three parts carrying `g`, and the
    * marker (what a Spark write leaves), replacing whatever was there. */
  private def write(dir: Path, g: Int): Unit = {
    fs.delete(dir, true)
    val d = Paths.get(dir.toUri)
    Files.createDirectories(d)
    (0 until Parts).foreach(i => Files.write(d.resolve(s"part-$i"), s"gen$g".getBytes("UTF-8")))
    Files.createFile(d.resolve(Generations.Marker))
  }

  /** The generation [[Generations.current]] reads, failing on an empty,
    * partial or mixed one. */
  private def served(target: Path): Option[Int] =
    Generations.current(fs, target).map { p =>
      val entries = Paths.get(p.toUri).toFile.listFiles().toSeq
      val parts = entries.filter(_.getName.startsWith("part-"))
        .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
      assert(entries.forall(_.isFile), s"$p holds a nested directory: ${entries.mkString(", ")}")
      assert(entries.exists(_.getName == Generations.Marker), s"$p has no marker")
      assert(parts.size == Parts && parts.distinct.size == 1,
        s"$p holds an empty, partial or mixed generation: $parts")
      parts.head.stripPrefix("gen").toInt
    }

  /** The states a publish can start from, and the generation each serves. */
  private val starts: Seq[(String, Path => Unit, Option[Int])] = Seq(
    ("nothing published", _ => (), None),
    ("a live target", t => write(t, 0), Some(0)),
    ("a live target and a stale aside",
      t => { write(t, 0); write(Generations.aside(t), -1) }, Some(0)),
    ("only the aside a crash between the renames leaves",
      t => write(Generations.aside(t), 0), Some(0)),
    ("a marker-less target and an aside",
      t => { write(Generations.aside(t), 0); write(t, -2); fs.delete(new Path(t, Generations.Marker), false) },
      Some(0)))

  private def withRoot[A](f: java.nio.file.Path => A): A = {
    val root = Files.createTempDirectory("graft_generations")
    try f(root) finally fs.delete(new Path(root.toUri), true)
  }

  /** Publishes generation `g` over `target` with a fault at the `k`-th
    * mutating operation; None when the publish finished before reaching it. */
  private def publishWithFault(target: Path, g: Int, mode: FaultyFs.Mode,
      k: Int): Option[Try[Boolean]] = {
    write(staging(target), g)
    val faulty = new FaultyFs(fs, mode, k)
    val r = Try(Generations.publish(faulty, staging(target), target))
    if (faulty.fired) Some(r)
    else { assert(r == Success(true), s"a publish without a fault must win: $r"); None }
  }

  /** Every (mode, k) whose fault a publish of `g` reaches after `setup`. */
  private def crashPoints(root: java.nio.file.Path, setup: Path => Unit,
      g: Int): Seq[(FaultyFs.Mode, Int)] =
    FaultyFs.modes.flatMap { m =>
      Iterator.from(1).takeWhile { k =>
        val t = fresh(root)
        setup(t)
        publishWithFault(t, g, m, k).isDefined
      }.map(k => (m, k)).toList
    }

  private var caseId = 0
  private def fresh(root: java.nio.file.Path): Path = {
    caseId += 1
    new Path(root.resolve(s"case$caseId").toUri).suffix("/t")
  }

  /** After a faulted publish of `g` from a state serving `before`: the
    * served generation is `before` or `g`, and `g` when the call returned. */
  private def checkAfter(what: String, target: Path, before: Option[Int], g: Int,
      r: Try[Boolean]): Option[Int] = {
    val now = served(target)
    if (r.isSuccess) assert(r == Success(true) && now.contains(g), s"$what: returned $r, serves $now")
    else assert(now == before || now.contains(g), s"$what: served $before before, $now after $r")
    now
  }

  /** A clean publish converges: it serves its generation and leaves no
    * aside and no staging directory. */
  private def checkConverges(what: String, target: Path, g: Int): Unit = {
    write(staging(target), g)
    assert(Generations.publish(fs, staging(target), target), what)
    assert(served(target).contains(g), what)
    val left = Paths.get(target.getParent.toUri).toFile.listFiles().map(_.getName).toSet
    assert(left == Set(target.getName), s"$what: left $left")
  }

  test("publish refuses a staging directory without its marker and touches nothing") {
    withRoot { root =>
      val t = fresh(root)
      write(t, 0)
      write(staging(t), 1)
      fs.delete(new Path(staging(t), Generations.Marker), false)
      intercept[java.io.IOException](Generations.publish(fs, staging(t), t))
      assert(served(t).contains(0))
      assert(!fs.exists(Generations.aside(t)) && fs.exists(staging(t)))
    }
  }

  test("every single crash point serves the old or the new generation, then converges") {
    withRoot { root =>
      val counts = starts.map { case (name, setup, before) =>
        val points = crashPoints(root, setup, 1)
        points.foreach { case (m, k) =>
          val what = s"from $name, $m at op $k"
          val t = fresh(root)
          setup(t)
          val r = publishWithFault(t, 1, m, k).get
          checkAfter(what, t, before, 1, r)
          checkConverges(what, t, 2)
        }
        name -> points.size / FaultyFs.modes.size
      }.toMap
      // the mutating operations of one publish from each state: the
      // stale-aside clear or the marker-less target's delete, the set-aside,
      // the swap and the aside's delete
      assert(counts == Map(
        "nothing published" -> 2,
        "a live target" -> 3,
        "a live target and a stale aside" -> 4,
        "only the aside a crash between the renames leaves" -> 2,
        "a marker-less target and an aside" -> 3), counts)
    }
  }

  test("every double crash point serves the old or the new generation, then converges") {
    withRoot { root =>
      var cases = 0
      starts.foreach { case (name, setup, before) =>
        crashPoints(root, setup, 1).foreach { case (m1, k1) =>
          def crashed(t: Path): Unit = {
            setup(t)
            publishWithFault(t, 1, m1, k1)
          }
          val probe = fresh(root)
          crashed(probe)
          val afterFirst = served(probe)
          crashPoints(root, crashed, 2).foreach { case (m2, k2) =>
            val what = s"from $name, $m1 at op $k1, then $m2 at op $k2"
            val t = fresh(root)
            crashed(t)
            val r = publishWithFault(t, 2, m2, k2).get
            checkAfter(what, t, afterFirst, 2, r)
            checkConverges(what, t, 3)
            cases += 1
          }
        }
      }
      assert(cases > 100, s"vacuous: $cases double crash cases")
    }
  }

  test("a swap that lands inside a concurrent publisher's directory loses cleanly") {
    withRoot { root =>
      val t = fresh(root)
      write(t, 0)
      write(staging(t), 1)
      // a concurrent publisher creates the target between this publish's
      // set-aside and its swap
      val racing = new FilterFileSystem(fs) {
        override def rename(src: Path, dst: Path): Boolean = {
          if (src == staging(t)) write(t, 7)
          super.rename(src, dst)
        }
      }
      assert(!Generations.publish(racing, staging(t), t), "the concurrent generation won")
      assert(served(t).contains(7))
      val left = Paths.get(t.getParent.toUri).toFile.listFiles().map(_.getName).toSet
      assert(left == Set(t.getName), s"left $left")
    }
  }
}
