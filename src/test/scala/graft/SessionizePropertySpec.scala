package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Sessionize

/** Property check: the distributed sessionizer agrees with a naive
  * single-threaded reference implementation on arbitrary event sets.
  * (Plain ScalaCheck Gen + fixed seeds — scalatestplus isn't on the
  * offline classpath.) */
class SessionizePropertySpec extends SparkTestBase {
  import spark.implicits._

  private val genEvents: Gen[List[SessEv]] = for {
    n <- Gen.choose(0, 60)
    evs <- Gen.listOfN(n, for {
      key <- Gen.oneOf("a", "b", "c")
      start <- Gen.choose(0L, 5000L)
      len <- Gen.choose(0L, 400L)
      dur <- Gen.choose(0L, 250L)
    } yield (key, start, start + len, dur))
  } yield evs.zipWithIndex.map { case ((k, s0, e, d), i) => SessEv(k, i.toLong, s0, e, d) }

  /** Reference implementation: literal transliteration of the rule
    * (sorted fold, gap from previous END, cumulative breaks, HAVING). */
  private def naive(evs: List[SessEv], gap: Long, minDur: Long): Set[(String, Long, Long, Long)] =
    evs.groupBy(_.key).toList.flatMap { case (k, g) =>
      val sorted = g.sortBy(e => (e.start, e.end, e.id))
      val withGap = sorted.zip(None +: sorted.map(Some(_)))
        .map { case (e, prev) => (e, prev.map(p => e.start - p.end)) }
      var sid = 0L
      val ids = withGap.map { case (e, gp) =>
        if (gp.isEmpty || gp.exists(_ > gap)) sid += 1
        (e, sid)
      }
      ids.groupBy(_._2).values.map { ses =>
        val es = ses.map(_._1)
        (k, es.map(_.start).min, es.map(_.end).max, es.map(_.dur).sum)
      }.filter(_._4 >= minDur)
    }.toSet

  test("distributed sessions == naive reference on random inputs") {
    (1 to 25).foreach { i =>
      val evs = genEvents.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val expected = naive(evs, gap = 100L, minDur = 50L)
      val actual =
        if (evs.isEmpty) Set.empty
        else Sessionize.sessions(
          evs.toDF(), keys = Seq("key"),
          startCol = "start", endCol = "end", durationCol = "dur",
          gapSeconds = 100L, minSessionSeconds = 50L,
          tieBreakers = Seq("end", "id"))
          .select("key", "session_start_ts", "session_end_ts", "total_duration")
          .as[(String, Long, Long, Long)].collect().toSet
      assert(actual == expected, s"seed $i: events $evs")
    }
  }

  /** Events that stress the window's edge rules: NULL starts and ends,
    * rows tied on the whole order key, several group values inside one
    * session (a string, and a double with 0.0, -0.0 and NaN), NULL
    * keys and a second key column. */
  private val genEdgeEvents: Gen[List[EdgeEv]] = for {
    n <- Gen.choose(0, 80)
    evs <- Gen.listOfN(n, for {
      k1 <- Gen.oneOf(Some("a"), Some("b"), None)
      k2 <- Gen.choose(0, 1)
      start <- Gen.frequency(9 -> Gen.choose(0L, 40L).map(t => Some(t * 50)), 1 -> Gen.const(None))
      len <- Gen.oneOf(0L, 50L, 120L, 400L)
      endNull <- Gen.frequency(9 -> false, 1 -> true)
      dur <- Gen.frequency(9 -> Gen.choose(0L, 250L).map(Some(_)), 1 -> Gen.const(None))
      g <- Gen.oneOf(Some("x"), Some("y"), None)
      w <- Gen.oneOf(1.5, 0.0, -0.0, Double.NaN)
    } yield (k1, k2, start, if (endNull) None else Some(start.getOrElse(0L) + len), dur, g, w))
  } yield evs.zipWithIndex.map { case ((k1, k2, s0, e, d, g, w), i) =>
    EdgeEv(k1, k2, i.toLong, s0, e, d, g, w)
  }

  /** The window form the fold replaces: `mark`, then GROUP BY and HAVING. */
  private def windowSessions(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      tieBreakers: Seq[String], groupCols: Seq[String]) = {
    import org.apache.spark.sql.functions._
    Sessionize.mark(df, keys, "start", "end", 100L, tieBreakers)
      .groupBy((keys ++ groupCols :+ "session_id").distinct.map(col): _*)
      .agg(min("start").as("session_start_ts"), max("end").as("session_end_ts"),
        sum("dur").as("total_duration"))
      .filter(col("total_duration") >= 50L)
  }

  test("the fold returns the window form's rows and schema on NULLs, ties and group values") {
    (1 to 30).foreach { i =>
      val evs = genEdgeEvents.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val base = evs.toDF()
      // every third seed runs on int start and end (the gap is int arithmetic)
      val df = if (i % 3 == 0) base.withColumn("start", $"start".cast("int"))
        .withColumn("end", $"end".cast("int")) else base
      // odd seeds leave ties on the whole order key (start, end): rows
      // that share both are one peer group; even seeds order totally
      val tieBreakers = if (i % 2 == 1) Seq("end") else Seq("end", "id")
      val keys = if (i % 4 < 2) Seq("k1") else Seq("k1", "k2")
      val groupCols = Seq("g", "w", "k1")
      val fold = Sessionize.sessions(df, keys, "start", "end", "dur",
        gapSeconds = 100L, minSessionSeconds = 50L, tieBreakers = tieBreakers,
        groupCols = groupCols)
      val window = windowSessions(df, keys, tieBreakers, groupCols)
      assert(fold.schema == window.schema, s"seed $i")
      val (extra, missing) = (fold.exceptAll(window), window.exceptAll(fold))
      assert(extra.isEmpty && missing.isEmpty,
        s"seed $i: fold only ${extra.collect().toSeq}, window only ${missing.collect().toSeq}; " +
          s"events $evs")
    }
  }
}

// top-level so the product Encoder has no outer reference
private[graft] case class SessEv(key: String, id: Long, start: Long, end: Long, dur: Long)
private[graft] case class EdgeEv(k1: Option[String], k2: Int, id: Long, start: Option[Long],
    end: Option[Long], dur: Option[Long], g: Option[String], w: Double)
