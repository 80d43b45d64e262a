package graft

import java.sql.Date
import org.apache.spark.sql.functions._
import graft.operators.PanelAsOf

class PanelAsOfSpec extends SparkTestBase {
  import spark.implicits._

  test("events get the max panel monday whose window covers their date") {
    val mondays = Seq(Date.valueOf("2024-01-08"), Date.valueOf("2024-01-15"))
      .toDF("panel_monday")
    val windows = PanelAsOf.windows(mondays)
    val events = Seq(
      (1L, Date.valueOf("2024-01-05")), // covered by both → max = 01-15
      (2L, Date.valueOf("2024-01-14")), // only 01-15 window ends 01-14
      (3L, Date.valueOf("2024-01-20"))  // covered by none → null
    ).toDF("id", "d")
    val out = PanelAsOf.assign(events, windows, "d")
      .select("id", "panel_monday").as[(Long, Option[Date])].collect().toMap
    assert(out(1L).contains(Date.valueOf("2024-01-15")))
    assert(out(2L).contains(Date.valueOf("2024-01-15")))
    assert(out(3L).isEmpty)
  }

  test("window bounds are [monday-28, monday-1]") {
    val w = PanelAsOf.windows(Seq(Date.valueOf("2024-01-29")).toDF("panel_monday"))
      .collect().head
    assert(w.getAs[Date]("window_start") == Date.valueOf("2024-01-01"))
    assert(w.getAs[Date]("window_end") == Date.valueOf("2024-01-28"))
  }

  test("assignment adds no Exchange and no join on the fact side") {
    val mondays = Seq(Date.valueOf("2024-01-08"), Date.valueOf("2024-01-15"))
      .toDF("panel_monday")
    val events = spark.range(1000).select(
      col("id"), date_add(lit(Date.valueOf("2023-12-01")), (col("id") % 60).cast("int")).as("d"))
    val plan = PanelAsOf.assign(events, PanelAsOf.windows(mondays), "d")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"panel assignment must be a projection of the fact side:\n$plan")
  }

  test("projection equals the explode/max formulation on 25 random window sets") {
    val rnd = new scala.util.Random(20240108L)
    val base = java.time.LocalDate.of(2024, 1, 1)
    def day(i: Int) = Date.valueOf(base.plusDays(i.toLong))
    (1 to 25).foreach { trial =>
      // overlapping and gapped windows, repeated Mondays, null bounds
      val windows = Seq.fill(rnd.nextInt(7)) {
        val start = rnd.nextInt(90)
        val end = start + rnd.nextInt(30)
        val monday = if (rnd.nextInt(3) == 0) end + 1 else start + rnd.nextInt(100)
        def orNull(d: Int) = if (rnd.nextInt(8) == 0) None else Some(day(d))
        (orNull(monday), orNull(start), orNull(end))
      }
      val wdf = windows.toDF("panel_monday", "window_start", "window_end")
      // every window edge, one day past each edge, random dates, a null
      val edges = windows.flatMap { case (_, s, e) => Seq(s, e).flatten }
        .flatMap { d =>
          val i = (d.toLocalDate.toEpochDay - base.toEpochDay).toInt
          Seq(i - 1, i, i + 1)
        }
      val dates = (edges ++ Seq.fill(10)(rnd.nextInt(160) - 20)).map(i => Some(day(i))) :+ None
      val events = dates.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "d")
      val got = PanelAsOf.assign(events, wdf, "d")
        .select("id", "panel_monday").as[(Long, Option[Date])].collect().toMap
      val covered = wdf
        .select(explode(sequence(col("window_start"), col("window_end"))).as("covered_date"),
          col("panel_monday"))
        .groupBy("covered_date").agg(max("panel_monday").as("panel_monday"))
      val want = events.join(covered, col("d") === col("covered_date"), "left")
        .select("id", "panel_monday").as[(Long, Option[Date])].collect().toMap
      assert(got == want, s"trial $trial, windows $windows")
    }
  }

  test("the window size probe fails loudly past its bound") {
    val many = spark.range(PanelAsOf.MaxWindows + 1L).select(
      date_add(lit(Date.valueOf("2024-01-01")), (col("id") * 7).cast("int")).as("panel_monday"))
    val events = Seq((1L, Date.valueOf("2024-01-05"))).toDF("id", "d")
    val tooMany = intercept[IllegalArgumentException](
      PanelAsOf.assign(events, PanelAsOf.windows(many), "d"))
    assert(tooMany.getMessage.contains(s"more than ${PanelAsOf.MaxWindows} panel windows"))
    // a handful of windows can still span more days than the array holds
    val far = Seq(Date.valueOf("1700-01-01"), Date.valueOf("2100-01-04")).toDF("panel_monday")
    val tooWide = intercept[IllegalArgumentException](
      PanelAsOf.assign(events, PanelAsOf.windows(far), "d"))
    assert(tooWide.getMessage.contains(s"more than ${PanelAsOf.MaxSpanDays}"))
  }
}
