package graft

import org.apache.spark.sql.functions._
import graft.operators.Sessionize

class SessionizeSpec extends SparkTestBase {
  import spark.implicits._

  private def sessions(rows: Seq[(String, Long, Long, Long)]) =
    Sessionize.sessions(
      rows.toDF("key", "start", "end", "dur"),
      keys = Seq("key"),
      startCol = "start", endCol = "end", durationCol = "dur",
      gapSeconds = 300L, minSessionSeconds = 180L,
      tieBreakers = Seq("end"))

  test("events within gap merge into one session") {
    val out = sessions(Seq(
      ("a", 1000L, 1100L, 100L),
      ("a", 1300L, 1400L, 100L), // gap 200 <= 300 → same session
      ("a", 1500L, 1600L, 100L)
    )).collect()
    assert(out.length == 1)
    val s = out.head
    assert(s.getAs[Long]("session_start_ts") == 1000L)
    assert(s.getAs[Long]("session_end_ts") == 1600L)
    assert(s.getAs[Long]("total_duration") == 300L)
  }

  test("gap over threshold starts a new session; short sessions filtered") {
    val out = sessions(Seq(
      ("a", 1000L, 1100L, 200L),
      ("a", 1500L, 1600L, 100L), // gap 400 > 300 → new session, dur 100 < 180 dropped
      ("b", 1000L, 1050L, 500L)  // separate key
    )).collect()
    val byKey = out.groupBy(_.getAs[String]("key"))
    assert(byKey("a").length == 1 && byKey("a").head.getAs[Long]("total_duration") == 200L)
    assert(byKey("b").length == 1)
  }

  test("session ids increment per break within a key") {
    val marked = Sessionize.mark(
      Seq(("a", 1000L, 1100L, 1L), ("a", 2000L, 2100L, 2L), ("a", 3000L, 3100L, 3L))
        .toDF("key", "start", "end", "id"),
      keys = Seq("key"), startCol = "start", endCol = "end",
      gapSeconds = 300L, tieBreakers = Seq("id"))
    assert(marked.select("session_id").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("exactly-at-gap boundary stays in session (reference: > 300 breaks)") {
    val out = sessions(Seq(
      ("a", 1000L, 1100L, 100L),
      ("a", 1400L, 1500L, 100L) // gap exactly 300 → NOT a break
    )).collect()
    assert(out.length == 1)
  }

  test("non-integral start, end or duration is refused when the frame is built") {
    val rows = Seq(("a", 1000L, 1100L, 100L)).toDF("key", "start", "end", "dur")
    for ((c, t) <- Seq("start" -> "timestamp", "end" -> "double", "dur" -> "decimal(10,0)")) {
      val e = intercept[IllegalArgumentException](Sessionize.sessions(
        rows.withColumn(c, col(c).cast(t)), keys = Seq("key"),
        startCol = "start", endCol = "end", durationCol = "dur", tieBreakers = Seq("end")))
      assert(e.getMessage.contains("integral") && e.getMessage.contains(s"$c "), e.getMessage)
    }
  }

  test("a sessions frame joins itself") {
    val s = sessions(Seq(("a", 1000L, 1100L, 200L), ("b", 10L, 20L, 300L), ("b", 900L, 990L, 400L)))
    val pairs = s.as("x").join(s.as("y"), $"x.session_id" === $"y.session_id" && $"x.key" < $"y.key")
      .select($"x.key", $"y.key", $"y.total_duration").as[(String, String, Long)].collect()
    assert(pairs.toSeq == Seq(("a", "b", 300L)))
    assert(s.join(s, Seq("key", "session_id")).count() == 3)
  }
}
