package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import GapFold.Run

/** Streaming form of the C113 binge-run row (q_binge_sessions,
  * QueriesTv.scala): per (viewer, title), program exposures ordered by
  * start form a RUN that breaks when the gap from the previous
  * exposure's END exceeds the binge gap (4 h); runs of ≥ `minViews`
  * exposures are reported with span and total duration. Same
  * [[GapFold]] step as [[StreamSessionize]] (H1's gap sessionizer —
  * reference semantics etl-ddl-backfill.sql:119-186 at binge
  * granularity), on `transformWithState` with one event-time timer per
  * open run, plus the per-key count of runs STARTED (`last_idx`), so emitted
  * binge_ids equal the batch cumsum-of-breaks run_id (short runs
  * consume an id without emitting — batch numbering has the same
  * holes). The open run is always the last one started, so its id is
  * `last_idx`.
  *
  * Scale shape: state is one small fixed-size row per OPEN
  * (viewer, title) run in RocksDB, timers close runs as the watermark
  * passes prevEnd + gap, and output is append-only — the same
  * economics as H1, keyed twice as finely.
  *
  * ORDERING CONTRACT (the H13/H17/H19 CDC-append discipline, shared
  * with [[StreamSessionize]]): exposures may arrive in any order
  * WITHIN a micro-batch (each batch is sorted into the batch row's
  * (start, end, event_id) total order before folding), but must be
  * non-decreasing in start time per (viewer, title) ACROSS
  * micro-batches. A watermark-legal straggler that starts BEFORE the
  * run's current prevEnd folds in at arrival position — batch SQL
  * would have sorted it into place and taken its LAG there — so gap
  * decisions downstream of it can diverge from the C113 row (e.g.
  * prevEnd moving backwards re-opens break distances batch would
  * have closed). Per-key ordered delivery (the Kafka partition-key
  * guarantee) satisfies the contract; without it, widen the
  * watermark and sessionize in batch instead. */
object StreamBinge {

  /** One program exposure; eventTime = start (the watermark column). */
  case class BingeExposure(smbaId: String, title: String, eventId: Long,
      startTs: Long, endTs: Long, duration: Long,
      eventTime: java.sql.Timestamp)
  object BingeExposure {
    def at(smbaId: String, title: String, eventId: Long,
        startTs: Long, endTs: Long, duration: Long): BingeExposure =
      BingeExposure(smbaId, title, eventId, startTs, endTs, duration,
        new java.sql.Timestamp(startTs * 1000L))
  }

  /** Column names match the batch row so parity compares directly. */
  case class BingeRun(smba_id: String, title: String, binge_id: Long,
      n_views: Long, binge_start_ts: Long, binge_end_ts: Long,
      total_duration: Long)

  class BingeProcessor(gapSeconds: Long, minViews: Long)
      extends StatefulProcessor[(String, String), BingeExposure, BingeRun] {

    @transient private var open: ValueState[Run] = _
    // run counter surviving timer closes, so binge_ids keep matching
    // the batch cumsum-of-breaks numbering across runs of silence
    // (one long per key; a production deploy bounds it with a TTL
    // matched to its id-comparability retention window)
    @transient private var lastIdx: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[Run]("open", Encoders.product[Run], TTLConfig.NONE)
      lastIdx = getHandle.getValueState[Long](
        "last_idx", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def close(key: (String, String), idx: Long, s: Run): Option[BingeRun] =
      if (s.n >= minViews)
        Some(BingeRun(key._1, key._2, idx, s.n, s.start, s.maxEnd, s.total))
      else None

    override def handleInputRows(
        key: (String, String),
        rows: Iterator[BingeExposure],
        timerValues: TimerValues): Iterator[BingeRun] = {
      val prev = if (open.exists) Some(open.get) else None
      // the batch window's total order within the key
      val step = GapFold.step(prev,
        rows.toSeq.sortBy(e => (e.startTs, e.endTs, e.eventId)).iterator
          .map(e => (e.startTs, e.endTs, e.duration)),
        gapSeconds)
      // the closed runs are the ones numbered just below the open run
      val openIdx = (if (lastIdx.exists) lastIdx.get else 0L) + step.opened
      if (step.opened > 0) lastIdx.update(openIdx)
      step.open.foreach { s =>
        open.update(s)
        val prevDeadline = prev.map(GapFold.deadlineMs(_, gapSeconds))
        val deadline = GapFold.deadlineMs(s, gapSeconds)
        if (!prevDeadline.contains(deadline)) {
          prevDeadline.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(deadline)
        }
      }
      val firstIdx = openIdx - step.closed.size
      step.closed.iterator.zipWithIndex.flatMap { case (s, i) => close(key, firstIdx + i, s) }
    }

    override def handleExpiredTimer(
        key: (String, String),
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[BingeRun] =
      if (open.exists &&
          GapFold.deadlineMs(open.get, gapSeconds) <= expiredTimerInfo.getExpiryTimeInMs) {
        val out = close(key, lastIdx.get, open.get)
        open.clear() // lastIdx survives, so the next run keeps the
        // batch-matching numbering
        out.iterator
      } else Iterator.empty // stale timer for an already-extended run
  }

  def runs(
      exposures: Dataset[BingeExposure],
      gapSeconds: Long = 14400L,
      minViews: Long = 3L,
      watermarkDelay: String = "10 minutes"): Dataset[BingeRun] = {
    implicit val outEnc = Encoders.product[BingeRun]
    implicit val keyEnc = Encoders.product[(String, String)]
    exposures
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(e => (e.smbaId, e.title))
      .transformWithState(
        new BingeProcessor(gapSeconds, minViews),
        TimeMode.EventTime(),
        OutputMode.Append())
  }
}
