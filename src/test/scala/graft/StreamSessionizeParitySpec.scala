package graft

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Sessionize
import graft.streaming.{GapFold, StreamSessionize}
import graft.streaming.StreamSessionize.Exposure

/** The stream sessionizer equals the batch one under its ordering
  * contract: rows in (start, end) order per key across micro-batches,
  * any order within a batch. Each seed draws exposures over several
  * keys with overlapping intervals (a long early event), exact
  * (start, end) ties and sessions under `minSessionSeconds`, sorts them
  * globally by (start, end) — so no row is behind the watermark — and
  * cuts them into random contiguous micro-batches. */
class StreamSessionizeParitySpec extends SparkTestBase {
  import spark.implicits._

  private val Gap = 300L
  private val MinSession = 180L

  private def exposures(rng: Random): Seq[Exposure] = {
    val keys = Seq("a", "b", "c", "d")
    val rows = (0 until 20 + rng.nextInt(40)).map { _ =>
      val start = 100000L + rng.nextInt(20000)
      // mostly short, some long early events that overlap their successors
      val len = if (rng.nextInt(8) == 0) 1000L + rng.nextInt(3000) else rng.nextInt(400).toLong
      Exposure.at(keys(rng.nextInt(keys.size)), start, start + len, rng.nextInt(200).toLong)
    }
    // exact (start, end) ties, with durations of their own
    val ties = rows.filter(_ => rng.nextInt(6) == 0)
      .map(e => Exposure.at(e.key, e.startTs, e.endTs, rng.nextInt(200).toLong))
    (rows ++ ties).sortBy(e => (e.startTs, e.endTs))
  }

  /** Contiguous cuts of `rows` into 1 to 5 micro-batches. */
  private def cuts[T](rows: Seq[T], rng: Random): Seq[Seq[T]] = {
    val at = Seq.fill(rng.nextInt(5))(rng.nextInt(rows.size + 1)).sorted
    (0 +: at :+ rows.size).sliding(2).map { case Seq(a, b) => rows.slice(a, b) }
      .filter(_.nonEmpty).toSeq
  }

  private def batch(rows: Seq[Exposure]): Seq[(String, Long, Long, Long)] =
    Sessionize.sessions(rows.toDF(), keys = Seq("key"),
      startCol = "startTs", endCol = "endTs", durationCol = "duration",
      gapSeconds = Gap, minSessionSeconds = MinSession, tieBreakers = Seq("endTs"))
      .select("key", "session_start_ts", "session_end_ts", "total_duration")
      .as[(String, Long, Long, Long)].collect().toSeq.sorted

  test("stream sessions == Sessionize.sessions under random micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    (1 to 20).foreach { seed =>
      val rng = new Random(seed)
      val rows = exposures(rng)
      val batches = cuts(rows, rng)
      val input = MemoryStream[Exposure]
      val q = StreamSessionize.sessions(input.toDS(), Gap, MinSession)
        .writeStream.format("memory").queryName(s"parity_$seed")
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // two sentinels: the first moves the watermark past every
        // deadline, the second times the open sessions out under it
        val far = rows.map(_.endTs).max + 100000L
        Seq(far, 2 * far).foreach { t =>
          input.addData(Exposure.at("~flush", t, t, 0L)); q.processAllAvailable()
        }
        val streamed = spark.table(s"parity_$seed").as[StreamSessionize.ClosedSession]
          .collect().toSeq.filter(_.key != "~flush")
          .map(s => (s.key, s.sessionStart, s.sessionEnd, s.totalDuration)).sorted
        val want = batch(rows)
        assert(want.nonEmpty, s"seed $seed: no session reaches $MinSession s")
        assert(streamed == want,
          s"seed $seed, batches ${batches.map(_.size)}: stream $streamed vs batch $want")
      } finally q.stop()
    }
  }

  test("GapFold steps compose: folding in pieces equals folding at once") {
    (1 to 50).foreach { seed =>
      val rng = new Random(seed)
      val rows = exposures(rng).filter(_.key == "a").map(e => (e.startTs, e.endTs, e.duration))
      val whole = GapFold.step(None, rows.iterator, Gap)
      val folded = cuts(rows, rng).foldLeft(GapFold.Step(Vector.empty, None, 0L)) { (acc, p) =>
        val s = GapFold.step(acc.open, p.iterator, Gap)
        GapFold.Step(acc.closed ++ s.closed, s.open, acc.opened + s.opened)
      }
      assert(folded == whole, s"seed $seed")
      assert(whole.opened == whole.closed.size + whole.open.size)
      assert(whole.closed.map(_.n).sum + whole.open.map(_.n).sum == rows.size)
    }
  }
}
