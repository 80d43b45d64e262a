package graft

import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** The custom broadcast as-of physical operator
  * (plans.BroadcastAsOfJoin / BroadcastAsOfJoinExec) vs the
  * union+window reference implementation: same semantics, no fact-side
  * exchange. */
class AsOfJoinNativeSpec extends SparkTestBase {
  import spark.implicits._

  private def leftDf = Seq(
    (1L, 10L, 100L), // between r-rows -> floor match
    (2L, 10L, 5L),   // before all right rows -> null carry
    (3L, 10L, 200L), // exact tie with a right ts -> that row
    (4L, 99L, 100L), // key absent on right -> null carry
    (5L, 11L, 150L)  // different key, independent floor
  ).toDF("id", "k", "t")

  private def rightDf = Seq(
    (10L, 50L, "a", Some(1.0)),
    (10L, 200L, "b", None: Option[Double]), // null payload must arrive as-is
    (11L, 100L, "c", Some(3.0)),
    (11L, 160L, "d", Some(4.0))
  ).toDF("k", "t", "tag", "w")

  test("broadcast as-of matches the union+window form row for row") {
    val native = AsOfJoin.broadcastAsOf(leftDf, rightDf, Seq("k"), "t", Seq("tag", "w"),
      forward = false)
    val ref = AsOfJoin.nearestBefore(leftDf, rightDf, Seq("k"), "t", Seq("tag", "w"))
    assert(native.columns.toSeq == ref.columns.toSeq)
    val n = native.orderBy("id").collect().toSeq
    assert(n == ref.orderBy("id").collect().toSeq)
    // spot semantics: floor match, miss, exact tie, absent key
    val byId = n.map(r => r.getLong(0) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(byId(1L) == ((Some("a"), Some(1.0))))
    assert(byId(2L) == ((None, None)))
    assert(byId(3L) == ((Some("b"), None)), "tie matches; matched row's OWN null survives")
    assert(byId(4L) == ((None, None)))
    assert(byId(5L) == ((Some("c"), Some(3.0))))
  }

  test("NULL left key/time rows pass through with null carry") {
    val l = Seq((Some(10L), Some(100L)), (None: Option[Long], Some(100L)),
      (Some(10L), None: Option[Long])).toDF("k", "t")
    val out = AsOfJoin.broadcastAsOf(l, rightDf, Seq("k"), "t", Seq("tag"),
      forward = false)
    assert(out.count() == 3)
    assert(out.filter(col("tag").isNotNull).count() == 1)
  }

  test("plan: zero exchange, no sort, and codegen'd probe on the fact side") {
    withStrictCodegen {
    val native = AsOfJoin.broadcastAsOf(leftDf, rightDf, Seq("k"), "t", Seq("tag"),
      forward = false)
    native.collect() // materialize through AQE
    val p = native.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastAsOfJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), s"fact side must not shuffle:\n$p")
    assert(!p.contains("Sort "), s"fact side must not sort:\n$p")
    assert(p.contains("BroadcastExchange"), s"right side must broadcast:\n$p")
    // long keys take the whole-stage-codegen path: the operator prints
    // inside a codegen span (starred), not behind an InputAdapter
    assert("\\*\\(\\d+\\) BroadcastAsOfJoin".r.findFirstIn(p).isDefined,
      s"probe must be inside WholeStageCodegen:\n$p")
    }
  }

  test("self-join (left and right derive from the same frame) is safe") {
    val base = Seq((10L, 50L, 1L), (10L, 100L, 2L), (11L, 70L, 3L)).toDF("k", "t", "v")
    // each row finds the latest row at-or-before its own time: itself
    val prior = base.withColumnRenamed("v", "self_v")
    val out = AsOfJoin.broadcastAsOf(base, prior, Seq("k"), "t", Seq("self_v"),
      forward = false)
    assert(out.count() == 3)
    assert(out.filter(col("v") === col("self_v")).count() == 3)
  }

  test("forward as-of: ceiling match, tie, and past-the-end miss") {
    val out = AsOfJoin.nearestAfterBroadcast(leftDf, rightDf, "k", "t", Seq("tag"))
      .orderBy("id").collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L) == Some("b"), "t=100 -> next right at 200")
    assert(out(2L) == Some("a"), "t=5 -> next right at 50")
    assert(out(3L) == Some("b"), "exact tie at 200 matches")
    assert(out(4L) == None, "absent key")
    assert(out(5L) == Some("d"), "t=150 -> next right at 160")
    // past the last right row -> miss
    val late = Seq((9L, 10L, 999L)).toDF("id", "k", "t")
    val lateOut = AsOfJoin.nearestAfterBroadcast(late, rightDf, "k", "t", Seq("tag"))
    assert(lateOut.collect().head.get(3) == null)
  }

  test("multi-column keys: (k1, k2) tuple keys resolve independently, in codegen") {
    withStrictCodegen {
    val l = Seq(
      (1L, 10L, "x", 100L), // matches (10,x) floor 50 -> "a"
      (2L, 10L, "y", 100L), // matches (10,y) floor 90 -> "c"
      (3L, 10L, "z", 100L), // no (10,z) entries -> null
      (4L, 10L, null.asInstanceOf[String], 100L) // null key field -> null carry
    ).toDF("id", "k1", "k2", "t")
    val r = Seq(
      (10L, "x", 50L, "a"), (10L, "x", 200L, "b"),
      (10L, "y", 90L, "c")
    ).toDF("k1", "k2", "t", "tag")
    val df = AsOfJoin.broadcastAsOf(l, r, Seq("k1", "k2"), "t", Seq("tag"),
      forward = false)
    df.collect() // materialize through AQE before reading the plan
    val out = df.orderBy("id").collect().map(row => row.getLong(0) -> Option(row.get(4))).toMap
    assert(out(1L) == Some("a") && out(2L) == Some("c") && out(3L) == None &&
      out(4L) == None)
    // tuple keys probe with a composite UnsafeRow INSIDE the span
    val p = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) BroadcastAsOfJoin".r.findFirstIn(p).isDefined,
      s"tuple-keyed probe must be inside WholeStageCodegen:\n$p")
    }
  }

  test("string keys stay inside WholeStageCodegen with identical semantics") {
    // the reference's flagship as-of keys on a VARCHAR device id — the
    // probe must not drop the fact stream out of its codegen span
    withStrictCodegen {
    val l = Seq(("u1", 100L, 1L), ("u2", 100L, 2L), ("u3", 100L, 3L))
      .toDF("k", "t", "id")
    val r = Seq(("u1", 50L, "a"), ("u1", 200L, "b"), ("u2", 90L, "c"))
      .toDF("k", "t", "tag")
    val out = AsOfJoin.broadcastAsOf(l, r, Seq("k"), "t", Seq("tag"),
      forward = false)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) BroadcastAsOfJoin".r.findFirstIn(p).isDefined,
      s"string-keyed probe must be inside WholeStageCodegen:\n$p")
    val m = out.collect().map(row => row.getLong(2) -> Option(row.get(3))).toMap
    assert(m == Map(1L -> Some("a"), 2L -> Some("c"), 3L -> None))
    }
  }

  test("string keys: tie, miss, null key, and forward direction") {
    val l = Seq(
      (Some("u1"), Some(200L), 1L), // exact tie -> "b"
      (Some("u1"), Some(10L), 2L),  // before all -> null
      (None: Option[String], Some(100L), 3L), // null key -> null carry
      (Some("u2"), None: Option[Long], 4L)    // null time -> null carry
    ).toDF("k", "t", "id")
    val r = Seq(("u1", 50L, "a"), ("u1", 200L, "b"), ("u2", 90L, "c"))
      .toDF("k", "t", "tag")
    val back = AsOfJoin.broadcastAsOf(l, r, Seq("k"), "t", Seq("tag"),
      forward = false)
      .collect().map(row => row.getLong(2) -> Option(row.get(3))).toMap
    assert(back == Map(1L -> Some("b"), 2L -> None, 3L -> None, 4L -> None))
    val fwd = AsOfJoin.nearestAfterBroadcast(l, r, "k", "t", Seq("tag"))
      .collect().map(row => row.getLong(2) -> Option(row.get(3))).toMap
    assert(fwd == Map(1L -> Some("b"), 2L -> Some("a"), 3L -> None, 4L -> None))
  }

  test("needCopyResult propagates: duplicate-key broadcast join under the as-of in one span") {
    // A non-unique-key broadcast hash join is multi-output-for-one-input:
    // if the as-of masks the streamed child's copy requirement, the
    // top-level append() reuses one UnsafeRow buffer and every fact
    // row's join fan-out collapses to the last copy — silent wrong rows.
    withStrictCodegen {
    val facts = Seq((1L, 10L, 100L), (2L, 11L, 150L)).toDF("id", "k", "t")
    val dup = Seq((1L, "p"), (1L, "q"), (2L, "r"), (2L, "s")).toDF("id", "side")
    val enriched = facts.join(broadcast(dup), "id") // 2 rows per fact row
    val out = AsOfJoin.broadcastAsOf(enriched, rightDf, Seq("k"), "t", Seq("tag"),
      forward = false)
    val rows = out.collect()
    val p = out.queryExecution.executedPlan.toString
    // the hash join and the as-of probe must share ONE codegen span for
    // this test to exercise the copy path
    val asofSpan = "\\*\\((\\d+)\\) BroadcastAsOfJoin".r.findFirstMatchIn(p).map(_.group(1))
    val bhjSpan = "\\*\\((\\d+)\\) BroadcastHashJoin".r.findFirstMatchIn(p).map(_.group(1))
    assert(asofSpan.isDefined && asofSpan == bhjSpan,
      s"join and as-of must share a codegen span:\n$p")
    // the span top must emit append(row.copy()): the duplicate-key hash
    // join is multi-output-for-one-input and its requirement has to
    // survive the as-of (needCopyResult propagation)
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      out.queryExecution.executedPlan)
    assert(gen.contains(".copy());"),
      "span top must copy appended rows when a fan-out join sits below the as-of")
    val got = rows.map(r => (r.getLong(0), r.getString(3), Option(r.get(4)))).toSet
    assert(got == Set(
      (1L, "p", Some("a")), (1L, "q", Some("a")),
      (2L, "r", Some("c")), (2L, "s", Some("c"))),
      s"fan-out rows must not alias one buffer: $got")
    }
  }

  test("nearestBefore keeps the union+window plan on a dimension-sized right side") {
    // no size routing: even a tiny right side takes the Window over the
    // key, never the custom operator, and the rows match the probe's
    val probe = AsOfJoin.broadcastAsOf(leftDf, rightDf, Seq("k"), "t", Seq("tag"),
      forward = false)
    probe.collect()
    assert(probe.queryExecution.executedPlan.toString.contains("BroadcastAsOfJoin"))
    val shuffled = AsOfJoin.nearestBefore(leftDf, rightDf, Seq("k"), "t", Seq("tag"))
    shuffled.collect()
    val p = shuffled.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastAsOfJoin") && p.contains("Window"), p)
    assert(probe.exceptAll(shuffled).isEmpty && shuffled.exceptAll(probe).isEmpty)
  }

  test("driver-built index: BroadcastExchange carries AsOfIndexMode, ships ONE blob row") {
    // the index is built once inside the exchange's collect thread
    // (like HashedRelation) — executors decode, they never group/sort
    val native = AsOfJoin.broadcastAsOf(leftDf, rightDf, Seq("k"), "t", Seq("tag", "w"),
      forward = false)
    native.collect()
    // AQE buries the exchange inside query stages — descend explicitly
    def deep(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        deep(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => deep(s.plan)
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        e +: e.children.flatMap(deep)
      case other => other.children.flatMap(deep)
    }
    val exchanges = deep(native.queryExecution.executedPlan)
    assert(exchanges.nonEmpty, "plan must hold a BroadcastExchangeExec")
    val mode = exchanges.head.mode
    assert(mode.isInstanceOf[graft.plans.AsOfIndexMode], s"got mode: $mode")
    // the broadcast value is Array(1 row × 1 binary field): the whole
    // pre-sorted index in one blob, size-accounted by the 8GB guard
    val value = exchanges.head.executeBroadcast[Array[org.apache.spark.sql.catalyst.InternalRow]]().value
    assert(value.length == 1 && value(0).numFields == 1)
    val blob = value(0).getBinary(0)
    // layout header: int keyMode (long=0) | int nKeys (2 non-null keys)
    val bb = java.nio.ByteBuffer.wrap(blob)
    assert(bb.getInt == 0 && bb.getInt == 2, "blob header: keyMode=long, nKeys=2")
    // keys ship ONCE per key and only carry columns travel: the blob
    // must undercut even this tiny row broadcast's serialized form
    assert(blob.length < 400, s"blob should be compact, got ${blob.length} bytes")
  }

  test("empty sides: empty right -> all null carry; empty left -> empty output") {
    val emptyR = rightDf.filter(col("k") === -1L)
    val allNull = AsOfJoin.broadcastAsOf(leftDf, emptyR, Seq("k"), "t", Seq("tag", "w"),
      forward = false)
    assert(allNull.count() == 5 && allNull.filter(col("tag").isNotNull).count() == 0)
    val emptyL = leftDf.filter(col("id") === -1L)
    assert(AsOfJoin.broadcastAsOf(emptyL, rightDf, Seq("k"), "t", Seq("tag", "w"),
        forward = false)
      .count() == 0)
  }

  test("streaming enrichment: the custom operator runs inside foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("asofstream").toString + "/t"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val q = input.toDF().toDF("id", "k", "t").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        AsOfJoin.broadcastAsOf(batch, rightDf, Seq("k"), "t", Seq("tag"),
            forward = false)
          .write.mode("append").parquet(dir)
      }
      .start()
    try {
      input.addData((1L, 10L, 100L), (2L, 10L, 5L))
      q.processAllAvailable()
      input.addData((3L, 11L, 170L))
      q.processAllAvailable()
      val out = spark.read.parquet(dir).orderBy("id")
        .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
      assert(out == Map(1L -> Some("a"), 2L -> None, 3L -> Some("d")))
    } finally q.stop()
  }

  test("parity with union+window on the sf0.001 as-of workload") {
    val ev = graft.sources.ViewingData.table(spark, Sf, "events")
      .select(col("event_id"), col("user_id").as("k"), to_date(col("ts")).as("t"))
    val r = graft.sources.ViewingData.table(spark, Sf, "orders")
      .select(col("o_custkey").as("k"), to_date(col("o_orderdate")).as("t"),
        col("o_orderkey"))
      .groupBy("k", "t").agg(max("o_orderkey").as("ref_order"))
    val a = AsOfJoin.broadcastAsOf(ev, r, Seq("k"), "t", Seq("ref_order"),
      forward = false)
      .select("event_id", "ref_order")
    val b = AsOfJoin.nearestBefore(ev, r, Seq("k"), "t", Seq("ref_order"))
      .select("event_id", "ref_order")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
