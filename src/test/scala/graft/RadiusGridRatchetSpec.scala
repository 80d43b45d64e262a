package graft

import org.scalatest.funsuite.AnyFunSuite

/** One radius grid. Every radius join in `src/main` (the registry's
  * radius, nearest and DBSCAN rows, `GeoJoin.knn` and both geofence
  * forms) runs on `GeoJoin`'s latitude-banded grid, which sizes itself
  * from the radius. The fixed-width grid it replaced needed its caller
  * to state a cell width and the data's latitude range, and rejected
  * every radius at its own defaults. */
class RadiusGridRatchetSpec extends AnyFunSuite {

  test("no fixed-width grid and no caller-stated cell width or latitude range") {
    val banned = """\b(replicate9|requireContract|cellDeg|maxAbsLat)\b""".r
    val found = MainSources.files.flatMap { case (name, text) =>
      banned.findAllMatchIn(text).map(m => s"$name: ${m.group(1)}")
    }.distinct
    assert(found.isEmpty, s"the fixed-width grid is back: $found")
    // the walk must see the banded grid, or it is not reading the sources
    assert(MainSources.files.exists { case (name, text) =>
      name == "GeoJoin.scala" && text.contains("def gridJoin(") })
  }
}
