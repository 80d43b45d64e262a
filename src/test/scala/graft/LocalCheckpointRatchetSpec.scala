package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every materialization goes through `operators.Barrier`, which
  * observes its metrics on the checkpoint's own job and sets the
  * frame's statistics from what it stored. The one direct
  * `.localCheckpoint` call under `src/main/scala` is Barrier's own;
  * any other is a second path around that policy. */
class LocalCheckpointRatchetSpec extends AnyFunSuite {

  /** `src/main/scala` of this checkout, found from the working directory up. */
  def mainSources: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(p => Files.isDirectory(p.resolve("graft")))
      .getOrElse(fail("src/main/scala/graft not found above the working directory"))

  test("no direct localCheckpoint call outside Barrier") {
    val call = """\.localCheckpoint\b""".r
    val walk = Files.walk(mainSources)
    val perFile = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> call.findAllMatchIn(Files.readString(p)).size)
      .filter(_._2 > 0).toList
    finally walk.close()
    // the walk must see Barrier's own call, or it is not reading the sources
    assert(perFile.filter(_._1 == "Barrier.scala") == List("Barrier.scala" -> 1),
      s"expected exactly one call, in Barrier.scala; found $perFile")
    val elsewhere = perFile.filterNot(_._1 == "Barrier.scala")
    assert(elsewhere.isEmpty,
      s"direct .localCheckpoint calls in $elsewhere; materialize through operators.Barrier")
  }
}
