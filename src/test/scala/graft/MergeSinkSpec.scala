package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.MergeSink

class MergeSinkSpec extends SparkTestBase {

  test("foreachBatch insert-only merge is idempotent under re-delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = Files.createTempDirectory("mergesink").toString + "/t"
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("k", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.insertOnlyParquet(target, Seq("k")) _)
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      // batch 2 re-delivers key 1 (different payload) + a new key
      input.addData((1L, "a-dup"), (3L, "c"))
      q.processAllAvailable()
      // batch 3 re-delivers everything
      input.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      val rows = spark.read.parquet(target).as[(Long, String)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"first write per key must win; got ${rows.toSeq}")
    } finally q.stop()
  }

  test("bitmap reach sink: exactly-once by OR-idempotence, rollup == exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = Files.createTempDirectory("bmreach").toString + "/t"
    val input = MemoryStream[(String, String, Long)]
    val q = input.toDF().toDF("seg", "day", "uid").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.bitmapReachParquet(target, Seq("seg", "day"), "uid") _)
      .start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    try {
      val b1 = Seq(("a", "d1", 1L), ("a", "d1", 2L), ("b", "d1", 1L))
      val b2 = Seq(("a", "d2", 2L), ("a", "d2", 3L), ("b", "d1", 9L))
      input.addData(b1: _*); q.processAllAvailable(); all ++= b1
      input.addData(b2: _*); q.processAllAvailable(); all ++= b2
      // REPLAY batch 1 in full (at-least-once source): OR is idempotent,
      // the table must not change
      def counts() = spark.read.parquet(target)
        .groupBy("seg", "day").agg(expr("bitmap_or_count(bm)").as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val before = counts()
      input.addData(b1: _*); q.processAllAvailable()
      val after = counts()
      assert(after == before, "replayed batch must be a no-op")
      // any rollup from the bitmap table == exact distinct over all input
      val perSeg = spark.read.parquet(target)
        .groupBy("seg").agg(expr("bitmap_or_count(bm)").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = all.toSeq.toDF("seg", "day", "uid")
        .groupBy("seg").agg(countDistinct("uid").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perSeg == exact, s"$perSeg vs $exact")
    } finally q.stop()
  }

  test("foreachBatch upsert: restated values replace, newest version wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = Files.createTempDirectory("upsertsink").toString + "/t"
    val input = MemoryStream[(Long, String, Long)]
    val q = input.toDF().toDF("k", "v", "ver").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.upsertParquet(target, Seq("k"), Seq("ver")) _)
      .start()
    try {
      input.addData((1L, "a", 10L), (2L, "b", 11L))
      q.processAllAvailable()
      // batch 2 restates key 1 (twice — ver 21 wins) and inserts key 3
      input.addData((1L, "a-new", 20L), (1L, "a-newer", 21L), (3L, "c", 22L))
      q.processAllAvailable()
      val rows = spark.read.parquet(target).as[(Long, String, Long)]
        .collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "a-newer", 21L), (2L, "b", 11L), (3L, "c", 22L)),
        s"newest version must win; got ${rows.toSeq}")
    } finally q.stop()
  }

  test("upsert schema evolution: new columns widen, retired columns survive; strict mode still fails loudly") {
    import spark.implicits._
    val target = Files.createTempDirectory("upsertevo").toString + "/t"
    // v1 era: (k, v, ver)
    Seq((1L, "a", 10L), (2L, "b", 11L)).toDF("k", "v", "ver")
      .write.parquet(target)
    // v2 era batch ADDS `score` and restates key 2
    val b2 = Seq((2L, "b2", 20L, 0.7), (3L, "c", 21L, 0.9))
      .toDF("k", "v", "ver", "score")
    // strict default: the widened batch must FAIL, not mint a column
    intercept[org.apache.spark.sql.AnalysisException] {
      MergeSink.upsertParquet(target, Seq("k"), Seq("ver"))(b2, 1L)
    }
    MergeSink.upsertParquet(target, Seq("k"), Seq("ver"), evolveSchema = true)(b2, 1L)
    val evolved = spark.read.parquet(target)
      .select("k", "v", "ver", "score").as[(Long, String, Long, Option[Double])]
      .collect().sortBy(_._1)
    assert(evolved.toSeq == Seq(
      (1L, "a", 10L, None),          // pre-evolution row reads NULL
      (2L, "b2", 20L, Some(0.7)),
      (3L, "c", 21L, Some(0.9))), s"got ${evolved.toSeq}")
    // v3 era batch RETIRES `score` (producer rolled back): column stays,
    // its rows read NULL — no data loss either direction
    val b3 = Seq((4L, "d", 30L)).toDF("k", "v", "ver")
    MergeSink.upsertParquet(target, Seq("k"), Seq("ver"), evolveSchema = true)(b3, 2L)
    val kept = spark.read.parquet(target)
      .select("k", "score").as[(Long, Option[Double])].collect().toMap
    assert(kept(2L).contains(0.7) && kept(4L).isEmpty,
      s"retired column must survive with NULL for new rows: $kept")
  }

  test("partitioned upsert: untouched partition files stay byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = Files.createTempDirectory("upsertpart").toString + "/t"
    val input = MemoryStream[(Long, Int, String, Long)]
    val q = input.toDF().toDF("k", "day", "v", "ver").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.upsertPartitionedParquet(
        target, "day", Seq("k"), Seq("ver")) _)
      .start()
    def partFiles(day: Int): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$target/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    }
    try {
      input.addData((1L, 1, "a", 10L), (2L, 2, "b", 10L), (3L, 3, "c", 10L))
      q.processAllAvailable()
      val d1Before = partFiles(1)
      val d3Before = partFiles(3)
      // batch 2 touches ONLY day=2: restates k=2 and inserts k=4
      input.addData((2L, 2, "b-new", 20L), (4L, 2, "d", 20L))
      q.processAllAvailable()
      assert(partFiles(1) == d1Before && partFiles(3) == d3Before,
        "untouched partitions must keep the same files, sizes, and mtimes")
      val rows = spark.read.parquet(target)
        .select("k", "day", "v", "ver").as[(Long, Int, String, Long)]
        .collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, 1, "a", 10L), (2L, 2, "b-new", 20L),
        (3L, 3, "c", 10L), (4L, 2, "d", 20L)), s"got ${rows.toSeq}")
      // replay of batch 2 converges (idempotent per-partition upsert)
      input.addData((2L, 2, "b-new", 20L), (4L, 2, "d", 20L))
      q.processAllAvailable()
      val replayed = spark.read.parquet(target)
        .select("k", "day", "v", "ver").as[(Long, Int, String, Long)]
        .collect().sortBy(_._1)
      assert(replayed.toSeq == rows.toSeq, "replayed batch must converge")
      assert(partFiles(1) == d1Before && partFiles(3) == d3Before,
        "replay must still leave untouched partitions alone")
    } finally q.stop()
  }

  test("partitioned upsert heals an interrupted swap before reading") {
    import spark.implicits._
    val target = Files.createTempDirectory("upsertheal").toString + "/t"
    val sink = MergeSink.upsertPartitionedParquet(target, "day", Seq("k"), Seq("ver")) _
    sink(Seq((1L, 1, "a", 10L), (2L, 2, "b", 10L)).toDF("k", "day", "v", "ver"), 0L)
    // simulate a crash BETWEEN park and promote: day=1 sits in the
    // swap root (the only copy of its rows), the live dir is gone
    val fs = new java.io.File(target)
    val swap = new java.io.File(target + ".__swap__")
    assert(swap.mkdirs())
    assert(new java.io.File(fs, "day=1").renameTo(new java.io.File(swap, "day=1")))
    // a full-table read during the crash window must not see the
    // parked copy (it lives OUTSIDE the table root)
    assert(spark.read.parquet(target).select("k").as[Long].collect().toSeq == Seq(2L))
    // the next batch touches only day=2 — heal must still restore day=1
    sink(Seq((2L, 2, "b2", 20L)).toDF("k", "day", "v", "ver"), 1L)
    val rows = spark.read.parquet(target)
      .select("k", "day", "v", "ver").as[(Long, Int, String, Long)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 1, "a", 10L), (2L, 2, "b2", 20L)),
      s"parked partition must be restored, got ${rows.toSeq}")
    assert(!swap.exists(), "swap root must be cleared after heal")
  }

  test("partitioned upsert == full-rewrite upsert on the same batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("upsertparity").toString
    val part = s"$root/part"
    val full = s"$root/full"
    val b1 = Seq((1L, 1, "a", 10L), (2L, 1, "b", 10L), (3L, 2, "c", 10L))
      .toDF("k", "day", "v", "ver")
    val b2 = Seq((1L, 1, "a2", 20L), (4L, 3, "d", 20L), (4L, 3, "d2", 21L))
      .toDF("k", "day", "v", "ver")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      MergeSink.upsertPartitionedParquet(part, "day", Seq("k"), Seq("ver"))(b, i.toLong)
      MergeSink.upsertParquet(full, Seq("k"), Seq("ver"))(b, i.toLong)
    }
    def load(p: String) = spark.read.option("basePath", p).parquet(p)
      .select("k", "day", "v", "ver").as[(Long, Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(load(part) == load(full), s"${load(part)} vs ${load(full)}")
  }

  test("expectedTarget matches the sink when the FIRST batch has dup keys") {
    import spark.implicits._
    val b1 = Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("k", "v") // intra-batch dup
    val b2 = Seq((1L, "a3"), (3L, "c")).toDF("k", "v")
    val expected = MergeSink.expectedTarget(Seq(b1, b2), Seq("k"))
    // per-key contract: exactly one row per key, first delivery wins key 1
    assert(expected.groupBy("k").count().filter($"count" > 1).isEmpty)
    val target = Files.createTempDirectory("mergesink2").toString + "/t"
    MergeSink.insertOnlyParquet(target, Seq("k"))(b1, 0L)
    MergeSink.insertOnlyParquet(target, Seq("k"))(b2, 1L)
    val sinkKeys = spark.read.parquet(target).select("k").as[Long].collect().sorted
    val expKeys = expected.select("k").as[Long].collect().sorted
    assert(sinkKeys.toSeq == expKeys.toSeq && sinkKeys.toSeq == Seq(1L, 2L, 3L))
  }

  test("insert-only sink: a target with duplicate keys written outside the sink still drops every existing key") {
    import spark.implicits._
    val target = Files.createTempDirectory("mergesink-dup").toString + "/t"
    // a writer other than the sink left key 1 twice
    Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("k", "v").write.parquet(target)
    val batch = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    MergeSink.insertOnlyParquet(target, Seq("k"))(batch, 0L)
    val rows = spark.read.parquet(target).as[(Long, String)].collect().sorted.toSeq
    assert(rows == Seq((1L, "a"), (1L, "a2"), (2L, "b"), (3L, "z")), rows)
  }

  test("insert-only sink: in-batch duplicate keys collapse to one row per key") {
    import spark.implicits._
    val target = Files.createTempDirectory("mergesink-batchdup").toString + "/t"
    val b1 = Seq((1L, 1, "a"), (1L, 1, "b"), (1L, 2, "c"), (2L, 1, "d"), (2L, 1, "d"))
      .toDF("k1", "k2", "v")
    MergeSink.insertOnlyParquet(target, Seq("k1", "k2"))(b1, 0L)
    val first = spark.read.parquet(target).as[(Long, Int, String)].collect()
    assert(first.map(r => (r._1, r._2)).sorted.toSeq == Seq((1L, 1), (1L, 2), (2L, 1)),
      first.toSeq)
    assert(first.toSeq.contains((2L, 1, "d")) && first.toSeq.contains((1L, 2, "c")))
    assert(first.exists(r => r._1 == 1L && r._2 == 1 && Set("a", "b").contains(r._3)))
    // against an existing target: a new key delivered twice lands once
    val b2 = Seq((3L, 1, "e"), (3L, 1, "e2"), (1L, 1, "z")).toDF("k1", "k2", "v")
    MergeSink.insertOnlyParquet(target, Seq("k1", "k2"))(b2, 1L)
    val keys = spark.read.parquet(target).select("k1", "k2").as[(Long, Int)].collect().sorted.toSeq
    assert(keys == Seq((1L, 1), (1L, 2), (2L, 1), (3L, 1)), keys)
  }

  test("rollup sink: streamed sessions maintain audience metrics = batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("rollupsink").toString
    val sessionsPath = s"$root/sessions"
    val metricsPath = s"$root/metrics"
    val groupCols = Seq("title", "content_id")
    // (title, content_id, hh_id, panel_weight, total_duration, session_start)
    val input = MemoryStream[(String, String, String, Long, Long, Long)]
    val q = input.toDF()
      .toDF("title", "content_id", "hh_id", "panel_weight", "total_duration", "session_start")
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.rollupParquet(
        sessionsPath, Seq("hh_id", "title", "content_id", "session_start"),
        groupCols, metricsPath,
        graft.operators.AudienceMetrics.reachAndFrequency(_, groupCols)) _)
      .start()
    def metrics = spark.read.parquet(metricsPath)
      .select("title", "content_id", "weighted_views", "weighted_reach", "frequency")
      .as[(String, String, Long, Long, Double)].collect().toSet
    def expected = graft.operators.AudienceMetrics
      .reachAndFrequency(spark.read.parquet(sessionsPath), groupCols)
      .select("title", "content_id", "weighted_views", "weighted_reach", "frequency")
      .as[(String, String, Long, Long, Double)].collect().toSet
    try {
      input.addData(
        ("T1", "c1", "hh1", 10L, 300L, 1000L),
        ("T1", "c1", "hh2", 20L, 200L, 1000L),
        ("T2", "c2", "hh1", 10L, 400L, 2000L))
      q.processAllAvailable()
      assert(metrics == expected, "first batch must equal a batch recompute")
      // second batch touches ONLY T1/c1 (hh2 watches again → reach
      // unchanged, views grow) and adds a new group
      input.addData(
        ("T1", "c1", "hh2", 20L, 100L, 5000L),
        ("T3", "c3", "hh9", 5L, 900L, 5000L))
      q.processAllAvailable()
      assert(metrics == expected, "incremental maintenance == full recompute")
      val t1 = metrics.find(m => m._1 == "T1" && m._2 == "c1").get
      assert(t1._3 == 50L && t1._4 == 30L,
        s"hh2's second session adds views (30→50) but not reach (30): $t1")
      // re-delivered batch: sessions dedup on the key → metrics stable
      input.addData(("T1", "c1", "hh2", 20L, 100L, 5000L))
      q.processAllAvailable()
      assert(metrics == expected, "re-delivery must not change the rollup")
    } finally q.stop()
  }

  test("sketch top-k sink: replay-idempotent by batch layout, exact-regime counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = Files.createTempDirectory("sktopk").toString + "/t"
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("day", "item").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.sketchTopKParquet(target, Seq("day"), "item") _)
      .start()
    try {
      val b1 = Seq(("d1", "x"), ("d1", "x"), ("d1", "y"), ("d2", "x"))
      val b2 = Seq(("d1", "x"), ("d2", "z"), ("d2", "z"))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      def top() = MergeSink.topKFromSketches(spark, target, Seq("day"), 5)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val expected = Set(
        ("d1", "x", 3L), ("d1", "y", 1L), ("d2", "x", 1L), ("d2", "z", 2L))
      assert(top() == expected, s"got ${top()}")
      // REPLAY batch 1 (at-least-once source): same batchId overwrites
      // its own partition — counts must NOT double
      input.addData(b1: _*); q.processAllAvailable()
      // the replay arrives as a NEW batchId here (MemoryStream can't
      // rewind), so emulate the real replay contract directly: rewrite
      // an already-committed batch id with its exact payload
      MergeSink.sketchTopKParquet(target, Seq("day"), "item")(
        b1.toDF("day", "item"), 0L)
      MergeSink.sketchTopKParquet(target, Seq("day"), "item")(
        b2.toDF("day", "item"), 1L)
      val after = MergeSink.topKFromSketches(spark, target, Seq("day"), 5)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      // the streamed batches 0/1 were rewritten in place; the stray
      // MemoryStream batch 2 (the un-rewindable replay) added b1 once
      // more — so totals are exactly input ∪ one extra b1, proving
      // per-batch overwrite semantics
      val expectedAfter = Set(
        ("d1", "x", 5L), ("d1", "y", 2L), ("d2", "x", 2L), ("d2", "z", 2L))
      assert(after == expectedAfter, s"got $after")
    } finally q.stop()
  }

  test("quantile sketch sink: replay overwrites its batch; combined digests match one-shot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = Files.createTempDirectory("skq").toString + "/t"
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("day", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.sketchQuantileParquet(target, Seq("day"), "v") _)
      .start()
    try {
      val b1 = Seq(("d1", 1.0), ("d1", 2.0), ("d1", 3.0), ("d2", 10.0))
      val b2 = Seq(("d1", 4.0), ("d2", 20.0), ("d2", 30.0))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      def est() = MergeSink.quantilesFromSketches(
          spark, target, Seq("day"), Seq(0.5, 0.95))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
      // small-n regime: the digest holds every point, so combined
      // estimates equal a one-shot approx_percentile over all rows
      val oneShot = (b1 ++ b2).toDF("day", "v")
        .groupBy("day")
        .agg(expr("approx_percentile(v, 0.5)").as("p50"),
          expr("approx_percentile(v, 0.95)").as("p95"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(est() == oneShot, s"streamed ${est()} vs one-shot $oneShot")
      // the replay contract: rewriting a committed batch id with its
      // exact payload must leave every estimate unchanged (a digest
      // APPEND would skew p50 toward the replayed mass)
      val before = est()
      MergeSink.sketchQuantileParquet(target, Seq("day"), "v")(
        b1.toDF("day", "v"), 0L)
      assert(est() == before, "replayed batch must overwrite, not accumulate")
      // labels are exact and collision-free: 0.995/0.999 must NOT both
      // round into one (wrong) p100 column
      val cols = MergeSink.quantilesFromSketches(
        spark, target, Seq("day"), Seq(0.995, 0.999)).columns.toSeq
      assert(cols == Seq("day", "p99_5", "p99_9"), cols.toString)
    } finally q.stop()
  }

  test("audience-duplication sink: streamed == batch q_audience_duplication; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = Files.createTempDirectory("dupbm").toString + "/t"
    // the SAME weighted program rows the batch row folds (C116)
    val weights = graft.sources.ViewingData.table(spark, Sf, "customer")
      .select(col("c_custkey").cast("string").as("smba_id"),
        floor(abs(col("c_acctbal"))).cast("long").as("w"))
    val rows = graft.sources.ViewingData.acr(spark, Sf)
      .filter(col("content_type") === "program")
      .select(col("smba_id"), col("network"))
      .join(broadcast(weights), "smba_id")
      .select(col("network"), col("w"), col("smba_id").cast("long").as("uid"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (b1, b2) = rows.partition(_._3 % 2 == 0)
    val input = MemoryStream[(String, Long, Long)]
    val q = input.toDF().toDF("network", "w", "uid").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.audienceDuplicationSink(target, "network", "w", "uid") _)
      .start()
    try {
      input.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      def matrix() = MergeSink.duplicationFromBitmaps(spark, target)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val streamed = matrix()
      // REPLAY batch 1 in full: OR-idempotence must make it a no-op
      input.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      assert(matrix() == streamed, "replayed batch must be a no-op")
      val batchRow = SparkEntry.queries("q_audience_duplication")(spark, Sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batchRow,
        s"missing=${(batchRow -- streamed).take(3)} extra=${(streamed -- batchRow).take(3)}")
    } finally q.stop()
  }

  test("duplication readout: coexisting weight cells with no shared viewer emit NO row; shared w=0 viewers emit w_both=0") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = Files.createTempDirectory("dupbm0").toString + "/t"
    val input = MemoryStream[(String, Long, Long)]
    val q = input.toDF().toDF("network", "w", "uid").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.audienceDuplicationSink(target, "network", "w", "uid") _)
      .start()
    try {
      // nets a and b both have weight-7 viewers but share NONE; nets
      // c and d share ONLY viewer 30, whose weight is 0 (each also has
      // a weighted solo viewer so w_a > 0 — an all-zero-weight network
      // divides 0/0 in the BATCH form too, identically)
      input.addData(
        ("a", 7L, 1L), ("b", 7L, 2L),
        ("c", 0L, 30L), ("d", 0L, 30L), ("c", 5L, 31L), ("d", 5L, 32L))
      q.processAllAvailable()
      val rows = MergeSink.duplicationFromBitmaps(spark, target)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(!rows.contains(("a", "b")) && !rows.contains(("b", "a")),
        s"no shared viewer → no row (batch semantics), got $rows")
      assert(rows.get(("c", "d")).contains((0L, 0.0)),
        s"shared zero-weight viewer → w_both=0 row, got $rows")
      assert(rows.get(("d", "c")).contains((0L, 0.0)), rows.toString)
    } finally q.stop()
  }

  test("streamed daily bitmaps answer SLIDING reach without re-reading events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = Files.createTempDirectory("bmslide").toString + "/t"
    val input = MemoryStream[(String, Long)]
    val q = input.toDF().toDF("day", "uid").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(MergeSink.bitmapReachParquet(target, Seq("day"), "uid") _)
      .start()
    try {
      // three "days" across two micro-batches, overlapping users
      input.addData(("d1", 1L), ("d1", 2L), ("d2", 2L), ("d2", 3L))
      q.processAllAvailable()
      input.addData(("d3", 3L), ("d3", 4L), ("d1", 5L))
      q.processAllAvailable()
      // 2-day sliding reach from the STORED bitmaps alone (the
      // q_sliding_reach day->window explode, one bitmap_or per window)
      val daily = spark.read.parquet(target)
      val win = daily.select(col("day").as("win"), col("bm"))
        .unionByName(daily
          .withColumn("win", concat(lit("d"),
            (substring(col("day"), 2, 1).cast("int") + 1).cast("string")))
          .filter(col("win").isin("d2", "d3"))
          .select(col("win"), col("bm")))
        .groupBy("win").agg(expr("bitmap_or_count(bm)").as("reach"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // d1={1,2,5}; d2=d1∪{2,3}={1,2,3,5}; d3={2,3}∪{3,4}={2,3,4}
      assert(win == Map("d1" -> 3L, "d2" -> 4L, "d3" -> 3L), s"got $win")
    } finally q.stop()
  }

  test("anonymity sink: streamed release == batch fold; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val state = Files.createTempDirectory("anonsink").toString + "/s"
    val input = MemoryStream[(String, String, Long)]
    val q = input.toDF().toDF("zip3", "day", "uid").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(
        MergeSink.anonymityStateParquet(state, Seq("zip3", "day"), "uid") _)
      .start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    def release() = MergeSink
      .anonymityRelease(spark, state, Seq("zip3", "day"), "zip3", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .sortBy(_._1).toSeq
    // the batch-side truth: C94's fold over everything seen so far
    def oracle() = {
      val g = all.toSeq.toDF("zip3", "day", "uid")
        .groupBy("zip3", "day")
        .agg(count(lit(1)).as("n"), countDistinct("uid").as("u"))
      g.filter(col("u") >= 2).select(col("zip3"), col("day"), col("n"))
        .union(g.filter(col("u") < 2).groupBy("day").agg(sum("n").as("n"))
          .select(lit("***").as("zip3"), col("day"), col("n")))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .sortBy(_._1).toSeq
    }
    try {
      // b1: "100" clears k=2 on d1, "200" doesn't
      val b1 = Seq(("100", "d1", 1L), ("100", "d1", 2L), ("200", "d1", 7L))
      input.addData(b1: _*); q.processAllAvailable(); all ++= b1
      assert(release() == oracle(), "after batch 1")
      // b2: a second distinct panelist flips "200" from generalized to
      // released — the k decision must move with the EXACT distinct
      val b2 = Seq(("200", "d1", 8L), ("100", "d2", 1L))
      input.addData(b2: _*); q.processAllAvailable(); all ++= b2
      assert(release() == oracle(), "after batch 2")
      // replay batch 0 VERBATIM (same batchId — the foreachBatch crash/
      // redeliver contract): it overwrites its own state partition, so
      // counts AND panelist sets are unchanged
      val before = release()
      MergeSink.anonymityStateParquet(state, Seq("zip3", "day"), "uid")(
        b1.toDF("zip3", "day", "uid"), 0L)
      assert(release() == before, "replayed batch must be a no-op")
    } finally q.stop()
  }
}
