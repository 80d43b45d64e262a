package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{StreamAggregates, StreamSessionize}
import graft.streaming.StreamSessionize.Exposure

class StreamingSpec extends SparkTestBase {

  test("stream sessionize: gap closes sessions; watermark flushes the tail") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Exposure]
    val sessions = StreamSessionize.sessions(input.toDS(), gapSeconds = 300L, minSessionSeconds = 180L)
    val query = sessions.writeStream
      .format("memory").queryName("sess_out").outputMode(OutputMode.Append).start()
    try {
      // batch 1: two events one session, then a later event breaking the gap
      input.addData(
        Exposure.at("a", 1000L, 1100L, 100L),
        Exposure.at("a", 1200L, 1300L, 100L))
      query.processAllAvailable()
      input.addData(Exposure.at("a", 2000L, 2100L, 500L)) // gap 700 closes first session
      query.processAllAvailable()
      val closed = spark.table("sess_out").as[StreamSessionize.ClosedSession].collect()
      assert(closed.length == 1)
      assert(closed.head.sessionStart == 1000L && closed.head.sessionEnd == 1300L)
      assert(closed.head.totalDuration == 200L)
      // advance watermark far past the open session → timeout flush
      input.addData(Exposure.at("z", 100000L, 100100L, 1L))
      query.processAllAvailable()
      input.addData(Exposure.at("z", 200000L, 200100L, 1L))
      query.processAllAvailable()
      val all = spark.table("sess_out").as[StreamSessionize.ClosedSession].collect()
      assert(all.exists(s => s.key == "a" && s.sessionStart == 2000L && s.totalDuration == 500L),
        s"open session should flush on watermark; got ${all.toSeq}")
    } finally query.stop()
  }

  private val parityEvents = Seq(
    Exposure.at("k1", 1000L, 1100L, 200L),
    Exposure.at("k1", 1250L, 1350L, 100L),   // joins (gap 150)
    Exposure.at("k1", 5000L, 5100L, 300L),   // breaks (gap 3650)
    Exposure.at("k2", 1000L, 1080L, 400L),
    // overlapping shape: a long early event must NOT keep later
    // events mergeable (gap is from the PREVIOUS event's end — the
    // batch LAG rule — not the running max end). Timestamps sit well
    // above 0: epoch-adjacent event times trip Spark's stateful-op
    // late-row boundary when the initial watermark is 0.
    Exposure.at("k3", 100000L, 102000L, 200L),
    Exposure.at("k3", 100010L, 100020L, 50L),
    Exposure.at("k3", 100400L, 100500L, 300L))

  private def batchSessions(events: Seq[Exposure]): Set[(String, Long, Long, Long)] = {
    import spark.implicits._
    graft.operators.Sessionize.sessions(
      events.toDF(), keys = Seq("key"),
      startCol = "startTs", endCol = "endTs", durationCol = "duration",
      gapSeconds = 300L, minSessionSeconds = 180L, tieBreakers = Seq("endTs"))
      .select("key", "session_start_ts", "session_end_ts", "total_duration")
      .as[(String, Long, Long, Long)].collect().toSet
  }

  /** Streams `batches` through the sessionizer, then two sentinel
    * batches (the first moves the watermark past every deadline, the
    * second times the open sessions out under it); the closed sessions. */
  private def streamSessions(name: String, batches: Seq[Exposure]*): Set[(String, Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Exposure]
    val q = StreamSessionize.sessions(input.toDS()).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      Seq(999999L, 9999999L).foreach { t =>
        input.addData(Exposure.at("zz", t, t, 1L)); q.processAllAvailable()
      }
      spark.table(name).as[StreamSessionize.ClosedSession].collect()
        .filter(_.key != "zz")
        .map(s => (s.key, s.sessionStart, s.sessionEnd, s.totalDuration)).toSet
    } finally q.stop()
  }

  test("stream sessionize matches batch sessionize on the same events") {
    val streamed = streamSessions("parity_out", parityEvents)
    val batch = batchSessions(parityEvents)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("stream sessionize matches batch sessionize when sessions span micro-batches") {
    // cuts in global start order (no row behind the watermark) inside
    // k1's first session and inside k3's overlapping one: each open
    // session must carry across the batch boundary in state
    val (b1, rest) = parityEvents.sortBy(e => (e.startTs, e.endTs)).splitAt(2)
    val (b2, b3) = rest.splitAt(3)
    assert(b1.map(_.key).toSet == Set("k1", "k2") && b2.last.key == "k3" && b3.map(_.key) == Seq("k3", "k3"))
    val streamed = streamSessions("split_out", b1, b2, b3)
    val batch = batchSessions(parityEvents)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("the watermark flushes the trailing open session of every key") {
    // no later event closes these sessions: only their timeouts can
    val events = Seq(
      Exposure.at("k1", 1000L, 1100L, 200L),
      Exposure.at("k1", 1250L, 1350L, 100L),  // same session (gap 150)
      Exposure.at("k1", 5000L, 5100L, 300L),  // trailing open session
      Exposure.at("k2", 1000L, 1080L, 400L))  // single-event trailing session
    val got = streamSessions("trailing_out", events)
    val batch = batchSessions(events)
    assert(got == batch, s"streamed $got vs Sessionize $batch")
    assert(got.contains(("k1", 5000L, 5100L, 300L)), "trailing session must flush")
    assert(got.contains(("k2", 1000L, 1080L, 400L)), "trailing session must flush")
  }

  test("a batch Dataset is refused with a message naming Sessionize.sessions") {
    import spark.implicits._
    val err = intercept[IllegalArgumentException](
      StreamSessionize.sessions(parityEvents.toDS()))
    assert(err.getMessage.contains("Sessionize.sessions"), err.getMessage)
  }

  test("streaming dedup drops re-delivered rows within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = graft.streaming.StreamDedup.dedup(
      input.toDF().toDF("ts", "id", "payload"), "ts", "10 minutes", "id", "payload")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:00:01"), 1L, "a"), // intra-batch dup
        (ts("2024-01-01 10:00:02"), 2L, "b"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:01:00"), 1L, "a")) // re-delivery
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:02:00"), 1L, "a2")) // same id, new payload
      q.processAllAvailable()
      val rows = spark.table("dedup_out").select("id", "payload")
        .as[(Long, String)].collect().sorted
      assert(rows.toSeq == Seq((1L, "a"), (1L, "a2"), (2L, "b")),
        s"dups must drop, distinct payloads survive; got ${rows.toSeq}")
    } finally q.stop()
  }

  test("chained stateful operators: native session_window then hourly session counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // Stateful-after-stateful (Spark 4, append mode) works when BOTH
    // stages are watermark-aware aggregations — session_window, not
    // flatMapGroupsWithState (which can emit below the watermark and
    // is rightly rejected by the global-watermark correctness check).
    val input = MemoryStream[Exposure]
    val sessions = input.toDF()
      .withWatermark("eventTime", "10 minutes")
      .groupBy(col("key"), session_window(col("eventTime"), "5 minutes"))
      .agg(count(lit(1)).as("events"))
    // window-on-window: the session_window struct carries event-time
    // metadata; re-declaring a watermark instead would mark every
    // emitted session late (they emit exactly when the watermark
    // passes them) and silently drop everything
    val perHour = sessions
      .groupBy(window(col("session_window"), "1 hour"))
      .count()
      .select(col("window.start").cast("long").as("hour"), col("count"))
    val q = perHour.writeStream.format("memory").queryName("chain_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Exposure.at("a", 3600L, 3760L, 200L),   // session ends hour 1
        Exposure.at("b", 7300L, 7500L, 250L))   // session ends hour 2
      q.processAllAvailable()
      // each stateful level trails the watermark by a batch: nudge the
      // cascade forward until both levels have flushed
      for (t <- Seq(100000L, 999999L, 2000000L, 3000000L)) {
        input.addData(Exposure.at("z", t, t + 100L, 1L))
        q.processAllAvailable()
      }
      val rows = spark.table("chain_out").as[(Long, Long)].collect().toMap
      assert(rows.get(3600L).contains(1L), s"hour-1 session count: $rows")
      assert(rows.get(7200L).contains(1L), s"hour-2 session count: $rows")
    } finally q.stop()
  }

  test("watermarked tumbling window aggregation over a stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamAggregates.tumblingCounts(
      input.toDF().toDF("ts", "key", "value"), "ts", "key", "value",
      windowLength = "1 hour", watermark = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 10:05:00"), "view", 10.5),
        (ts("2024-01-01 10:45:00"), "view", 2.5),
        (ts("2024-01-01 11:05:00"), "view", 1.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 14:00:00"), "view", 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("window_start").cast("string"), col("events"), col("value_sum"))
        .as[(String, Long, Long)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", 2L, 12L)), s"got $rows")
      assert(rows.contains(("2024-01-01 11:00:00", 1L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming change-event counters match the batch window form across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamChangeEvents
    import graft.streaming.StreamChangeEvents.{ChangeCounts, ChangeEvent}
    withRocksDbState {
      // real events, including a null-type first row per the LAG
      // NULL-safe-DISTINCT edge (user 1's first event type is null)
      val events = Seq(
        ChangeEvent(1L, 10L, 1L, null, 60.0),
        ChangeEvent(1L, 20L, 2L, "view", 10.0),
        ChangeEvent(1L, 30L, 3L, "view", 99.0),
        ChangeEvent(1L, 40L, 4L, "click", 51.0),
        ChangeEvent(2L, 10L, 5L, "view", 49.0),
        ChangeEvent(2L, 15L, 6L, null, 80.0),
        ChangeEvent(2L, 25L, 7L, null, 10.0),
        ChangeEvent(3L, 5L, 8L, "buy", 50.0)) // 50.0 is NOT > 50
      // split mid-history: state must carry counters across batches
      val (b1, b2) = events.partition(_.tsSec <= 20L)
      val input = MemoryStream[ChangeEvent]
      val q = StreamChangeEvents.counts(input.toDS()).writeStream
        .format("memory").queryName("chg_out")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        // Update mode emits per touched key per batch — the final
        // counters are the max-n_events row (counters are monotone)
        val streamed = spark.table("chg_out").as[ChangeCounts].collect()
          .groupBy(_.user_id).map(_._2.maxBy(_.n_events))
          .map(c => (c.user_id, c.n_switches, c.n_high_value, c.n_events)).toSet
        // the SAME window computation q_change_events runs (C65,
        // oracle-checked): LAG IS DISTINCT FROM + running sums
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("userId").orderBy("tsSec", "eventId")
        val batch = events.toDF()
          .withColumn("chg",
            when(not(col("eventType") <=> lag("eventType", 1).over(w)), 1L)
              .otherwise(0L))
          .groupBy(col("userId"))
          .agg(sum("chg").as("n_switches"),
            sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("n_high_value"),
            count(lit(1)).as("n_events"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(streamed == batch, s"streamed $streamed vs batch $batch")
        assert(streamed.exists { case (u, sw, _, _) => u == 2L && sw == 2L },
          "view->null->null must count exactly one switch at the null boundary")
      } finally q.stop()
    }
  }

  test("StreamEwma: recursive smoothing across micro-batches equals the serial fold") {
    import graft.streaming.StreamEwma
    import graft.streaming.StreamEwma.{Obs, Smoothed}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDbState {
      val alpha = 0.3
      val events = Seq(
        Obs(1L, 10L, 1L, 10.0), Obs(1L, 20L, 2L, 20.0),
        Obs(1L, 30L, 3L, 0.0), Obs(1L, 40L, 4L, 40.0),
        Obs(2L, 10L, 5L, 100.0), Obs(2L, 50L, 6L, 0.0),
        Obs(3L, 5L, 7L, 7.5))
      // split mid-history: the recursion must carry across the boundary
      val (b1, b2) = events.partition(_.tsSec <= 20L)
      val input = MemoryStream[Obs]
      val q = StreamEwma.smooth(input.toDS(), alpha).writeStream
        .format("memory").queryName("ewma_out")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        val streamed = spark.table("ewma_out").as[Smoothed].collect()
          .map(s => (s.user_id, s.event_id) -> s.ewma).toMap
        // serial reference: the exact recursion per user in event order
        val want = events.groupBy(_.userId).flatMap { case (u, es) =>
          var e = Double.NaN
          es.sortBy(o => (o.tsSec, o.eventId)).map { o =>
            e = if (e.isNaN) o.value else alpha * o.value + (1 - alpha) * e
            (u, o.eventId) -> e
          }
        }
        assert(streamed.keySet == want.keySet, s"$streamed vs $want")
        want.foreach { case (k, v) =>
          assert(math.abs(streamed(k) - v) < 1e-12, s"$k: ${streamed(k)} vs $v")
        }
        // the recursion really crossed the batch boundary: user 1's
        // third value depends on both first-batch observations
        val third = streamed((1L, 3L))
        val expectThird = alpha * 0.0 + (1 - alpha) * (alpha * 20.0 + (1 - alpha) * 10.0)
        assert(math.abs(third - expectThird) < 1e-12)
      } finally q.stop()
    }
  }

  test("streaming binge runs match the batch C113 row across a mid-run micro-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamBinge
    import graft.streaming.StreamBinge.{BingeExposure, BingeRun}
    import org.apache.spark.sql.expressions.Window
    // the REAL corpus, not a toy: every program exposure at this SF
    val events = graft.sources.ViewingData.acr(spark, Sf)
      .filter(col("content_type") === "program")
      .select(col("smba_id"), col("title"), col("event_id").cast("long"),
        col("exposure_start_ts").cast("long"),
        col("exposure_end_ts").cast("long"), col("duration").cast("long"))
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map { case (sm, t, id, st, en, d) => BingeExposure.at(sm, t, id, st, en, d) }
      .sortBy(e => (e.startTs, e.endTs, e.eventId))
    // the batch row's exact computation (q_binge_sessions, C113).
    // sf0.001 is too sparse to form 4 h-gap runs, so the GAP is
    // widened to 30 days on BOTH engines — parity tests the
    // cross-batch stitching and numbering, not the constant
    val testGap = 2592000L
    val w = Window.partitionBy("smbaId", "title")
      .orderBy(col("startTs"), col("endTs"), col("eventId"))
    val batch = events.toSeq.toDF()
      .withColumn("gap", col("startTs") - lag("endTs", 1).over(w))
      .withColumn("brk",
        when(col("gap").isNull || col("gap") > testGap, 1L).otherwise(0L))
      .withColumn("run_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("smbaId", "title", "run_id")
      .agg(count(lit(1)).as("n"), min("startTs").as("bs"),
        max("endTs").as("be"), sum("duration").as("dur"))
      .filter(col("n") >= 3)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(batch.nonEmpty, "corpus must contain qualifying binge runs")
    // split INSIDE the longest qualifying run: its exposures must be
    // stitched across the micro-batch boundary by the state store
    val big = batch.maxBy(_._4)
    val runExps = events.filter(e => e.smbaId == big._1 && e.title == big._2 &&
      e.startTs >= big._5 && e.endTs <= big._6)
    assert(runExps.length >= 3)
    val splitTs = runExps(1).startTs + 1 // after the run's 2nd exposure
    val (b1, b2) = events.partition(_.startTs < splitTs)
    assert(b1.exists(e => e.smbaId == big._1 && e.title == big._2) &&
      b2.exists(e => e.smbaId == big._1 && e.title == big._2),
      "the chosen run must actually straddle the split")
    val maxEnd = events.map(_.endTs).max
    withRocksDbState {
      val input = MemoryStream[BingeExposure]
      val q = StreamBinge.runs(input.toDS(), gapSeconds = testGap).writeStream
        .format("memory").queryName("binge_out")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        // two sentinel batches: the first advances the watermark past
        // every open deadline (+20000 s > gap + delay), the second
        // lets the timers registered under that watermark fire
        input.addData(BingeExposure.at("zz", "zz", 0L,
          maxEnd + testGap + 20000L, maxEnd + testGap + 20000L, 0L))
        q.processAllAvailable()
        input.addData(BingeExposure.at("zz", "zz", 1L,
          maxEnd + 2 * testGap + 40000L, maxEnd + 2 * testGap + 40000L, 0L))
        q.processAllAvailable()
        val streamed = spark.table("binge_out").as[BingeRun].collect()
          .filter(_.smba_id != "zz")
          .map(r => (r.smba_id, r.title, r.binge_id, r.n_views,
            r.binge_start_ts, r.binge_end_ts, r.total_duration)).toSet
        val want = batch.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7)).toSet
        assert(streamed == want,
          s"streamed ${streamed.size} rows vs batch ${want.size}: " +
            s"missing ${want -- streamed}, extra ${streamed -- want}")
      } finally q.stop()
    }
  }
}
