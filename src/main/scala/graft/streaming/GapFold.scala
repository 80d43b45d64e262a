package graft.streaming

/** The gap rule of the reference's sessions (etl-ddl-backfill.sql:119-186)
  * as one step over plain longs, shared by the stateful stream operators
  * ([[StreamSessionize]], [[StreamBinge]]): an event opens a new run when
  * its start is more than `gap` after the previous event's end, and
  * otherwise extends the open run.
  *
  * `prevEnd` is the END of the last event in sort order (the batch
  * rule's LAG(end)) and is kept apart from `maxEnd` (the run's MAX end,
  * what the batch aggregate reports): when events overlap, an early
  * long event must neither keep later events joinable forever nor have
  * its end shrunk out of the reported span.
  *
  * The batch fold (`plans.SessionFold`) has NULL, RANGE-peer and
  * overflow rules that non-null stream longs do not, and stays separate;
  * `StreamSessionizeParitySpec` ties the two together. */
object GapFold {

  /** An open run: first start, max end, last event's end, summed
    * duration and event count. */
  case class Run(start: Long, maxEnd: Long, prevEnd: Long, total: Long, n: Long)

  /** `closed`: the runs this step closed, in order; `open`: the run
    * left open (None only for no open run and no events); `opened`:
    * how many runs the events started. */
  case class Step(closed: Vector[Run], open: Option[Run], opened: Long)

  /** Fold `events` — `(start, end, duration)` sorted by start — onto
    * `open`. */
  def step(open: Option[Run], events: Iterator[(Long, Long, Long)], gap: Long): Step = {
    var cur = open.orNull
    val closed = Vector.newBuilder[Run]
    var opened = 0L
    events.foreach { case (startTs, endTs, duration) =>
      if (cur != null && startTs - cur.prevEnd <= gap)
        cur = Run(cur.start, math.max(cur.maxEnd, endTs), endTs, cur.total + duration, cur.n + 1)
      else {
        if (cur != null) closed += cur
        cur = Run(startTs, endTs, endTs, duration, 1L)
        opened += 1
      }
    }
    Step(closed.result(), Option(cur), opened)
  }

  /** Event time (ms) at which no event can still join `r`: a timer
    * set here closes it once the watermark passes. */
  def deadlineMs(r: Run, gap: Long): Long = (r.prevEnd + gap) * 1000L
}
