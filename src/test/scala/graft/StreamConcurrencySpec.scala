package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamConcurrency
import graft.streaming.StreamConcurrency.{Concurrency, Delta}

class StreamConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  // intervals for content "a": [10,30) [20,40) [25,50) → peak 3;
  // [40,60) starts the moment one ends (half-open: no double count at 40).
  // content "b": single long session spanning both batches.
  private val deltas = Seq(
    Delta("a", 10L, 1L), Delta("a", 20L, 1L), Delta("a", 25L, 1L),
    Delta("a", 30L, -1L), Delta("a", 40L, -1L), Delta("a", 40L, 1L),
    Delta("a", 50L, -1L), Delta("a", 60L, -1L),
    Delta("b", 5L, 1L), Delta("b", 90L, -1L))

  private def batchPeaks(rows: Seq[Delta]): Map[String, Long] = {
    // the same window computation q_peak_concurrency runs (C105)
    val w = Window.partitionBy("contentId").orderBy(col("tsSec"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.toDF().withColumn("running", sum("delta").over(w))
      .groupBy("contentId").agg(max("running").as("peak"))
      .as[(String, Long)].collect().toMap
  }

  test("streamed current/peak across batches match the batch sweep line") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDbState {
      val input = MemoryStream[Delta]
      val q = StreamConcurrency.peaks(input.toDS()).writeStream
        .format("memory").queryName("conc_out")
        .outputMode(OutputMode.Update()).start()
      try {
        // split mid-curve: "a"'s peak happens in batch 1, its level
        // drains in batch 2; "b"'s session straddles the split
        val (b1, b2) = deltas.partition(_.tsSec <= 25L)
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        val last = spark.table("conc_out").as[Concurrency].collect()
          .groupBy(_.content_id)
          .map { case (k, rows) => k -> rows.last } // Update mode: latest row wins
        assert(last("a").peak == batchPeaks(deltas)("a"))
        assert(last("b").peak == batchPeaks(deltas)("b"))
        assert(last("a").current == 0L, "all a-sessions ended")
        assert(last("b").current == 0L)
        assert(last("a").peak == 3L)
        assert(last("b").peak == 1L)
      } finally q.stop()
    }
  }

  test("interval form: out-of-order arrivals fold in event-time order via timers") {
    import graft.streaming.StreamConcurrency.{Interval, TimedConcurrency}
    implicit val sqlCtx = spark.sqlContext
    def iv(c: String, s0: Long, e0: Long) =
      Interval(c, new java.sql.Timestamp(s0 * 1000L), s0, e0)
    withRocksDbState {
      val input = MemoryStream[Interval]
      val q = StreamConcurrency.peaksFromIntervals(input.toDS(),
          watermarkDelay = "2 minutes")
        .writeStream.format("memory").queryName("conc_iv")
        .outputMode(OutputMode.Append()).start()
      try {
        // arrivals OUT of event-time order across batches: the late
        // [5,15) lands after [10,40)/[20,30) but within the watermark
        input.addData(iv("a", 10L, 40L), iv("a", 20L, 30L))
        q.processAllAvailable()
        input.addData(iv("a", 5L, 15L))
        q.processAllAvailable()
        // flush: a far-future row on another key pushes the watermark
        // past every buffered instant, firing all timers
        input.addData(iv("zz", 100000L, 100001L))
        q.processAllAvailable()
        val rows = spark.table("conc_iv").as[TimedConcurrency].collect()
          .filter(_.content_id == "a")
        assert(rows.nonEmpty, "timers must have fired for key a")
        val fin = rows.maxBy(_.as_of_sec)
        // deltas: +1@5 +1@10 -1@15 +1@20 -1@30 -1@40 → curve
        // 1,2,1,2,1,0 — peak 2 despite the late arrival
        assert(fin.peak == 2L, s"got $fin")
        assert(fin.current == 0L, s"got $fin")
        assert(fin.as_of_sec == 40L)
      } finally q.stop()
    }
  }

  test("half-open ends-before-starts: back-to-back sessions never double-count") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDbState {
      val input = MemoryStream[Delta]
      val q = StreamConcurrency.peaks(input.toDS()).writeStream
        .format("memory").queryName("conc_b2b")
        .outputMode(OutputMode.Update()).start()
      try {
        // [0,10) then [10,20): at t=10 the -1 sorts before the +1
        input.addData(Delta("c", 0L, 1L), Delta("c", 10L, -1L),
          Delta("c", 10L, 1L), Delta("c", 20L, -1L))
        q.processAllAvailable()
        val r = spark.table("conc_b2b").as[Concurrency].collect().last
        assert(r.peak == 1L && r.current == 0L)
      } finally q.stop()
    }
  }
}
