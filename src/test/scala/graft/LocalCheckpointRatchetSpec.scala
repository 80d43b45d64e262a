package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Materialization barriers go through `operators.Barrier`, which
  * observes its metrics on the checkpoint's own job. Direct
  * `.localCheckpoint(` calls elsewhere are the ones still to move onto
  * it; their number may only go down. Lower `Ceiling` when a change
  * moves calls onto the primitive. */
class LocalCheckpointRatchetSpec extends AnyFunSuite {

  val Ceiling = 139

  /** `src/main/scala` of this checkout, found from the working directory up. */
  def mainSources: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(p => Files.isDirectory(p.resolve("graft")))
      .getOrElse(fail("src/main/scala/graft not found above the working directory"))

  test("direct localCheckpoint calls outside Barrier do not grow") {
    val call = """\.localCheckpoint\b""".r
    val walk = Files.walk(mainSources)
    val perFile = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Barrier.scala")
      .map(p => p -> call.findAllMatchIn(Files.readString(p)).size)
      .filter(_._2 > 0).toList
    finally walk.close()
    val total = perFile.map(_._2).sum
    info(s"$total direct calls in ${perFile.size} files")
    assert(total > 0, "found no call at all: the source walk is broken")
    assert(total <= Ceiling,
      s"$total direct .localCheckpoint calls, above the ceiling of $Ceiling; " +
        "materialize through operators.Barrier instead")
  }
}
