package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The Scala sources under `src/main/scala` of this checkout, for the
  * ratchet specs that hold a rule over the whole code base. */
object MainSources {

  /** `src/main/scala`, found from the working directory up. */
  lazy val root: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(p => Files.isDirectory(p.resolve("graft")))
      .getOrElse(sys.error("src/main/scala/graft not found above the working directory"))

  /** Every `.scala` file under [[root]]: its file name and its text. */
  lazy val files: List[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toList
    finally walk.close()
  }
}
