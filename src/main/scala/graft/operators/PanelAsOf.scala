package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** As-of panel assignment (reference: etl-ddl-backfill.sql:64-90,
  * `events_with_panel`): each event gets
  * `MAX(panel_monday) WHERE metadata_date BETWEEN window_start AND
  * window_end` — the latest panel whose coverage window contains the
  * event's date.
  *
  * The reference expresses this as a correlated subquery per row. A
  * naive Spark translation is a range join (fact × windows) followed by
  * a per-event groupBy — which SHUFFLES THE FACT TABLE, a disaster at
  * 100 TB. Instead we exploit that the window table is tiny (one row
  * per panel week): collect it behind a size probe, resolve
  * `date -> max(panel_monday)` ON THE DRIVER into a dense array indexed
  * by days since the earliest `window_start`, and look each event's
  * date up in that array. The assignment is a projection of the fact
  * side: no join, no exchange, no broadcast job.
  */
object PanelAsOf {

  /** Most windows [[assign]] collects (one per panel week: ~190 years). */
  val MaxWindows = 10000

  /** Widest date range the lookup array may span, in days. */
  val MaxSpanDays: Int = 1 << 17

  /** Adds `panel_monday` to `events` (a DATE `dateCol`; events outside
    * every window get NULL, which downstream filters drop — reference
    * etl-ddl-backfill.sql:113 `WHERE e.panel_monday IS NOT NULL`).
    * Windows with a null bound or Monday, or with start after end,
    * cover no date. Fails loudly past [[MaxWindows]] windows or a span
    * wider than [[MaxSpanDays]]. */
  def assign(events: DataFrame, windows: DataFrame, dateCol: String): DataFrame = {
    val rows = windows
      .select(unix_date(col("window_start")), unix_date(col("window_end")),
        unix_date(col("panel_monday")))
      .limit(MaxWindows + 1).collect()
    require(rows.length <= MaxWindows,
      s"PanelAsOf.assign: more than $MaxWindows panel windows; the driver-side lookup expects one per panel week")
    val spans = rows.toSeq
      .filterNot(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      .filter { case (start, end, _) => start <= end }
    if (spans.isEmpty) return events.withColumn("panel_monday", lit(null).cast("date"))
    val first = spans.map(_._1).min
    val width = spans.map(_._2).max - first + 1
    require(width <= MaxSpanDays,
      s"PanelAsOf.assign: panel windows span $width days, more than $MaxSpanDays")
    val best = coveringMax(spans.map { case (s, e, m) => (s - first, e - first, m) }, width)
    val table = typedLit(best.toSeq.map(_.map(d => LocalDate.ofEpochDay(d.toLong))))
    val idx = datediff(col(dateCol), lit(LocalDate.ofEpochDay(first.toLong)))
    events.withColumn("panel_monday",
      when(idx >= 0 && idx < width, element_at(table, idx + 1)))
  }

  /** Per offset in [0, width): the max Monday among the spans
    * `(start, end, monday)` covering it. Spans are laid down in
    * descending Monday order, so each offset is written once, by its
    * winner; `next` skips offsets already written (path-halving union
    * find), which keeps this O(width + spans) however much they
    * overlap. */
  private def coveringMax(spans: Seq[(Int, Int, Int)], width: Int): Array[Option[Int]] = {
    val best = Array.fill[Option[Int]](width)(None)
    val next = Array.tabulate(width + 1)(identity)
    def free(i: Int): Int = {
      var j = i
      while (next(j) != j) { next(j) = next(next(j)); j = next(j) }
      j
    }
    spans.sortBy(-_._3).foreach { case (start, end, monday) =>
      var i = free(start)
      while (i <= end) {
        best(i) = Some(monday)
        next(i) = i + 1
        i = free(i + 1)
      }
    }
    best
  }

  /** Panel coverage windows from distinct panel Mondays (reference:
    * etl-ddl-backfill.sql:1-10): [monday-28d, monday-1d]. */
  def windows(panelMondays: DataFrame): DataFrame =
    panelMondays.select(
      col("panel_monday"),
      date_sub(col("panel_monday"), 28).as("window_start"),
      date_sub(col("panel_monday"), 1).as("window_end"))
}
