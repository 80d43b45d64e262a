package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every materialization goes through `operators.Barrier`, which
  * observes its metrics on the checkpoint's own job and sets the
  * frame's statistics from what it stored. The one direct
  * `.localCheckpoint` call under `src/main/scala` is Barrier's own;
  * any other is a second path around that policy. */
class LocalCheckpointRatchetSpec extends AnyFunSuite {

  test("no direct localCheckpoint call outside Barrier") {
    val call = """\.localCheckpoint\b""".r
    val perFile = MainSources.files
      .map { case (name, text) => name -> call.findAllMatchIn(text).size }
      .filter(_._2 > 0)
    // the walk must see Barrier's own call, or it is not reading the sources
    assert(perFile.filter(_._1 == "Barrier.scala") == List("Barrier.scala" -> 1),
      s"expected exactly one call, in Barrier.scala; found $perFile")
    val elsewhere = perFile.filterNot(_._1 == "Barrier.scala")
    assert(elsewhere.isEmpty,
      s"direct .localCheckpoint calls in $elsewhere; materialize through operators.Barrier")
  }
}
