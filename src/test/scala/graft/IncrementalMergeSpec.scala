package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalMerge

class IncrementalMergeSpec extends SparkTestBase {
  import spark.implicits._

  test("insertOnly appends only rows with unseen keys") {
    val target = Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "sub", "v")
    val batch = Seq((2L, "b", 99), (3L, "c", 30)).toDF("k", "sub", "v")
    val out = IncrementalMerge.insertOnly(target, batch, Seq("k", "sub"))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
  }

  test("upsert: matched keys take batch values, batch deduped by version, rest kept") {
    val target = Seq((1L, 10, 100L), (2L, 20, 101L), (2L, 21, 102L)).toDF("k", "v", "ver")
    val batch = Seq(
      (2L, 90, 200L), (2L, 99, 201L), // same key twice: ver 201 wins
      (3L, 30, 202L)).toDF("k", "v", "ver")
    val out = IncrementalMerge.upsert(target, batch, Seq("k"), Seq("ver"))
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    // BOTH target rows for k=2 are replaced by the single newest batch
    // row; k=1 untouched; k=3 inserted
    assert(out.toSeq == Seq((1L, 10, 100L), (2L, 99, 201L), (3L, 30, 202L)))
  }

  test("upsert is idempotent and order-insensitive under re-delivery (randomized)") {
    // the operational claim behind the streaming sink: replaying a
    // batch (or re-merging it) converges to the same state
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      def frame(n: Int, verBase: Long) = Seq.tabulate(n)(i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(100), verBase + i)).toDF("k", "v", "ver")
      val t0 = IncrementalMerge.latestPerKey(frame(8, 0L), Seq("k"), Seq("ver"))
      val b = frame(6, 100L)
      val once = IncrementalMerge.upsert(t0, b, Seq("k"), Seq("ver"))
      val twice = IncrementalMerge.upsert(once, b, Seq("k"), Seq("ver"))
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty,
        s"trial $trial: replaying the same batch must be a no-op")
      // exactly one row per key survives, and it carries the max version
      val perKey = once.groupBy("k").agg(count(lit(1)).as("n"))
      assert(perKey.filter(col("n") > 1).isEmpty)
      val expectMax = t0.unionByName(b).groupBy("k").agg(max("ver").as("mx"))
      assert(once.join(expectMax, "k").filter(col("ver") =!= col("mx")).isEmpty,
        s"trial $trial: survivor must carry the highest version")
    }
  }

  test("applyCdc: tombstones delete, later versions resurrect, replay converges") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "ignored", 1, "delete"),  // delete existing
      (1L, "a2", 2, "upsert"),       // later version resurrects key 1
      (2L, "ignored", 1, "delete"),  // delete existing, stays deleted
      (4L, "d", 1, "upsert"),        // insert new
      (9L, "ignored", 1, "delete")   // delete absent -> no-op
    ).toDF("k", "v", "version", "op")
    val out = graft.operators.IncrementalMerge
      .applyCdc(target, changes, Seq("k"), Seq("version"), "op")
    val m = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "a2", 3L -> "c", 4L -> "d"), m.toString)
    // replay: applying the same change set to the result converges
    val replay = graft.operators.IncrementalMerge
      .applyCdc(out, changes, Seq("k"), Seq("version"), "op")
    assert(replay.collect().map(r => r.getLong(0) -> r.getString(1)).toMap == m)
  }

  test("applyCdc: NULL or unrecognized op fails fast instead of deleting the row") {
    import spark.implicits._
    val target = Seq((1L, "a")).toDF("k", "v")
    def apply(op: Option[String]) = graft.operators.IncrementalMerge
      .applyCdc(target,
        Seq((1L, "a2", 1, op)).toDF("k", "v", "version", "op"),
        Seq("k"), Seq("version"), "op")
      .collect()
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${chain(t.getCause)}"
    val eNull = intercept[Exception](apply(None))
    assert(chain(eNull).contains("must be 'upsert' or 'delete'"), chain(eNull))
    val eBogus = intercept[Exception](apply(Some("UPSERT")))
    assert(chain(eBogus).contains("must be 'upsert' or 'delete'"), chain(eBogus))
    // valid ops still flow
    assert(apply(Some("upsert")).map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a2"))
  }

  test("affectedKeys returns distinct group keys of the batch") {
    val batch = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("hh", "title")
    assert(IncrementalMerge.affectedKeys(batch, Seq("hh", "title")).count() == 2)
  }

  test("watermark = least of per-source max dates, with floor for empty") {
    import java.sql.Date
    val s1 = Seq(Date.valueOf("2024-01-10"), Date.valueOf("2024-01-20")).toDF("d")
    val s2 = Seq(Date.valueOf("2024-01-15")).toDF("d")
    val wm = IncrementalMerge.watermark(Seq(s1, s2), "d").collect().head.getDate(0)
    assert(wm == Date.valueOf("2024-01-15"))
    val empty = spark.emptyDataset[Date0].toDF()
    val wm2 = IncrementalMerge.watermark(Seq(s1, empty), "d").collect().head.getDate(0)
    assert(wm2 == Date.valueOf("1900-01-01"))
  }

  test("watermark over three sources: one empty or all empty reads the 1900 floor") {
    import java.sql.Date
    val s1 = Seq(Date.valueOf("2024-01-10"), Date.valueOf("2024-01-20")).toDF("d")
    val s2 = Seq(Date.valueOf("2024-01-15")).toDF("d")
    val s3 = Seq(Date.valueOf("2024-01-12"), Date.valueOf("2024-01-13")).toDF("d")
    val empty = spark.emptyDataset[Date0].toDF()
    def wm(sources: DataFrame*) =
      IncrementalMerge.watermark(sources, "d").collect().map(_.getDate(0)).toSeq
    assert(wm(s1, s2, s3) == Seq(Date.valueOf("2024-01-13")))
    assert(wm(s1, empty, s3) == Seq(Date.valueOf("1900-01-01")))
    assert(wm(empty, empty, empty) == Seq(Date.valueOf("1900-01-01")))
    // LEAST is a min over the union of one-row maxes: no nested-loop join
    val plan = IncrementalMerge.watermark(Seq(s1, s2, s3), "d").queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
  }
}

case class Date0(d: java.sql.Date)
