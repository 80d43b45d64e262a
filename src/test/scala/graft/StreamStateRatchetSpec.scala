package graft

import org.scalatest.funsuite.AnyFunSuite

/** One stream sessionizer and one gap fold. The gap rule of the stream
  * operators (`startTs - prevEnd <= gap`) is written once, in
  * `streaming.GapFold`. `StreamSessionize` is the one operator on the
  * GroupState API (`flatMapGroupsWithState`, which beat a
  * `transformWithState` copy head to head); every other stateful
  * stream operator runs on `transformWithState`. */
class StreamStateRatchetSpec extends AnyFunSuite {

  test("flatMapGroupsWithState only in StreamSessionize, and no second stream sessionizer") {
    val groupState = """\.(flatMapGroupsWithState|mapGroupsWithState)\b""".r
    val perFile = MainSources.files
      .map { case (name, text) => name -> groupState.findAllMatchIn(text).map(_.group(1)).toList }
      .filter(_._2.nonEmpty)
    // the walk must see StreamSessionize's own call, or it is not reading the sources
    assert(perFile == List("StreamSessionize.scala" -> List("flatMapGroupsWithState")),
      s"expected one GroupState call, in StreamSessionize.scala; found $perFile. " +
        "Write other stateful operators as a StatefulProcessor for transformWithState")
    val v2 = MainSources.files.filter { case (name, text) =>
      name == "StreamSessionizeV2.scala" || text.contains("StreamSessionizeV2") }
    assert(v2.isEmpty, s"a second stream sessionizer is back: ${v2.map(_._1)}")
  }

  test("the stream gap comparison appears only in GapFold") {
    val gap = """\bstartTs\s*-\s*[\w.]*prevEnd\b""".r
    val perFile = MainSources.files
      .map { case (name, text) => name -> gap.findAllMatchIn(text).size }
      .filter(_._2 > 0)
    assert(perFile == List("GapFold.scala" -> 1),
      s"expected the one gap comparison, in GapFold.scala; found $perFile")
  }
}
