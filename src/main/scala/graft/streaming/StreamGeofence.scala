package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.GeoJoin

/** Streaming GEOFENCE enter/exit detection (H18): position pings
  * against a static fence set, emitting an event exactly when a
  * user's fence membership CHANGES — the alerting shape (arrival
  * notifications, zone-based ad triggers, OOH attribution) that a
  * batch radius join can't express because it has no "previous ping"
  * to diff against.
  *
  * Composition of two shapes the engine already proves separately:
  *
  *  1. the banded-grid radius join (`GeoJoin.gridJoin`, sized from
  *     the radius, fence side replicated to ≤9 cell keys and
  *     broadcast) as a STATELESS stream-static join — per micro-batch
  *     it's the same equi-join plan as C98, complete at every
  *     latitude, with one twist: LEFT OUTER, because an "exit" is only
  *     visible on a ping that matches NO fence (an inner join would
  *     silently swallow the evidence of leaving);
  *  2. per-user `transformWithState` presence diffing (the H13
  *     change-counter discipline): state is the sorted fence-id set
  *     of the LAST ping; each ping's set is diffed against it —
  *     additions emit `enter`, removals emit `exit`.
  *
  * Ordering contract (same as H13): rows are sorted (tsSec, pingId)
  * within a batch; across batches the per-key stream must arrive in
  * order. State is ONE bounded row per user (fences a user can stand
  * in simultaneously — bounded by fence geometry, not history).
  *
  * At 100 TB/day of pings: the join side stays broadcast (fences are
  * a dim table), the stateful op shuffles once on user_id — the same
  * two-exchange budget as the sessionizer.
  */
object StreamGeofence {

  case class Ping(userId: Long, tsSec: Long, pingId: Long, lat: Double, lon: Double)

  /** One row per (ping, matched fence) — fenceId null when the ping
    * stands in no fence (the LEFT OUTER evidence row). */
  case class FencePing(userId: Long, tsSec: Long, pingId: Long, fenceId: java.lang.Long)

  case class FenceEvent(user_id: Long, ts_sec: Long, fence_id: Long, event: String)

  case class FenceState(fences: Array[Long])

  class GeofenceProcessor
      extends StatefulProcessor[Long, FencePing, FenceEvent] {

    @transient private var st: ValueState[FenceState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FenceState](
        "fences", Encoders.product[FenceState], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[FencePing],
        timerValues: TimerValues): Iterator[FenceEvent] = {
      var inside: Set[Long] =
        if (st.exists) st.get.fences.toSet else Set.empty
      val out = Seq.newBuilder[FenceEvent]
      rows.toSeq
        .groupBy(r => (r.tsSec, r.pingId)).toSeq.sortBy(_._1)
        .foreach { case ((ts, _), matches) =>
          val now = matches.flatMap(m => Option(m.fenceId).map(_.longValue)).toSet
          (now -- inside).toSeq.sorted.foreach(f =>
            out += FenceEvent(key, ts, f, "enter"))
          (inside -- now).toSeq.sorted.foreach(f =>
            out += FenceEvent(key, ts, f, "exit"))
          inside = now
        }
      st.update(FenceState(inside.toArray.sorted))
      out.result().iterator
    }
  }

  /** Each ping with each fence it stands in, or once with a null
    * `fenceId` when it stands in none — the left-outer grid join both
    * forms run. */
  private def fencePings(pings: DataFrame, fences: DataFrame, radiusKm: Double): DataFrame =
    GeoJoin.gridJoin(pings, "lat", "lon", fences, "flat", "flon", radiusKm,
        "left_outer", broadcastRight = true)
      .select(col("userId"), col("tsSec"), col("pingId"), col("fenceId"))

  /** @param fences static (fenceId, flat, flon) dim table
    * @param pings  streaming Dataset of position pings */
  def fenceEvents(
      pings: Dataset[Ping],
      fences: DataFrame,
      radiusKm: Double): Dataset[FenceEvent] = {
    implicit val outEnc = Encoders.product[FenceEvent]
    implicit val keyEnc = Encoders.scalaLong
    fencePings(pings.toDF(), fences, radiusKm).as[FencePing](Encoders.product[FencePing])
      .groupByKey(_.userId)
      .transformWithState(
        new GeofenceProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** The batch twin the spec pins parity against: per-ping fence sets
    * via the same left-outer grid join, then a LAG diff per user —
    * what a backfill over stored pings would run. */
  def fenceEventsBatch(
      pings: DataFrame,
      fences: DataFrame,
      radiusKm: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = fencePings(pings, fences, radiusKm)
      .groupBy("userId", "tsSec", "pingId")
      .agg(sort_array(collect_set(col("fenceId"))).as("now"))
    val w = Window.partitionBy("userId").orderBy("tsSec", "pingId")
    val diffed = sets
      .withColumn("prev",
        coalesce(lag("now", 1).over(w), array().cast("array<long>")))
      .select(col("userId"), col("tsSec"),
        explode(concat(
          transform(array_except(col("now"), col("prev")),
            f => struct(f.as("fence_id"), lit("enter").as("event"))),
          transform(array_except(col("prev"), col("now")),
            f => struct(f.as("fence_id"), lit("exit").as("event"))))).as("e"))
      .select(col("userId").as("user_id"), col("tsSec").as("ts_sec"),
        col("e.fence_id"), col("e.event"))
    diffed
  }
}
