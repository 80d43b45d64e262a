package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamGeofence
import graft.streaming.StreamGeofence.{FenceEvent, Ping}

class StreamGeofenceSpec extends SparkTestBase {
  import spark.implicits._

  // fences: 1 at origin, 2 at 0.5°E (~55.6 km), 3 at 0.1°E (~11.1 km)
  // — 1 and 3 overlap for points between them at radius 10
  private def fences = Seq(
    (1L, 0.0, 0.0), (2L, 0.0, 0.5), (3L, 0.0, 0.1))
    .toDF("fenceId", "flat", "flon")

  // user 1 walks origin → fence 2 → out; user 2 stands in the 1∩3
  // overlap then leaves everything
  private val pings = Seq(
    Ping(1L, 10L, 1L, 0.0, 0.0),     // enter 1
    Ping(1L, 20L, 2L, 0.0, 0.001),   // still only 1 — no event
    Ping(1L, 30L, 3L, 0.0, 0.5),     // exit 1, enter 2
    Ping(1L, 40L, 4L, 0.0, 0.25),    // exit 2 (27.8 and 16.7 km away)
    Ping(2L, 10L, 5L, 0.0, 0.05),    // enter 1 AND 3 (~5.6 km each, radius 10)
    Ping(2L, 20L, 6L, 5.0, 5.0))     // exit both

  private val expected = Set(
    (1L, 10L, 1L, "enter"),
    (1L, 30L, 1L, "exit"), (1L, 30L, 2L, "enter"),
    (1L, 40L, 2L, "exit"),
    (2L, 10L, 1L, "enter"), (2L, 10L, 3L, "enter"),
    (2L, 20L, 1L, "exit"), (2L, 20L, 3L, "exit"))

  test("streamed enter/exit events across batches match hand-trace and batch twin") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDbState {
      val input = MemoryStream[Ping]
      val q = StreamGeofence.fenceEvents(
          input.toDS(), fences, radiusKm = 10.0, cellDeg = 1.0, maxAbsLat = 10.0)
        .writeStream.format("memory").queryName("gf_out")
        .outputMode(OutputMode.Update()).start()
      try {
        // split mid-journey: state (the fence set) must carry over
        val (b1, b2) = pings.partition(_.tsSec <= 20L)
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        val streamed = spark.table("gf_out").as[FenceEvent].collect()
          .map(e => (e.user_id, e.ts_sec, e.fence_id, e.event)).toSet
        assert(streamed == expected)
      } finally q.stop()
    }

    val batch = StreamGeofence.fenceEventsBatch(
        pings.toDF(), fences, radiusKm = 10.0, cellDeg = 1.0, maxAbsLat = 10.0)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(batch == expected)
  }

  test("a no-fence ping still reaches the processor (left-outer evidence)") {
    // inner-join shape would never emit the exit at t20
    val only = Seq(Ping(7L, 10L, 1L, 0.0, 0.0), Ping(7L, 20L, 2L, 5.0, 5.0))
    val batch = StreamGeofence.fenceEventsBatch(
        only.toDF(), fences, radiusKm = 10.0, cellDeg = 1.0, maxAbsLat = 10.0)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(batch == Set((7L, 10L, 1L, "enter"), (7L, 20L, 1L, "exit")))
  }

  test("plan: the per-batch join side is broadcast, never a cartesian") {
    val plan = StreamGeofence.fenceEventsBatch(
        pings.toDF(), fences, radiusKm = 10.0, cellDeg = 1.0, maxAbsLat = 10.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }
}
