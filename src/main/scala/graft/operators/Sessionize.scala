package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.LongType

import graft.plans.SessionFold

/** Gap-based sessionization (reference: etl-ddl-backfill.sql:119-186,
  * `viewing_sessions`): within each key group ordered by start time,
  * a new session starts when the gap from the previous event's end
  * exceeds `gapSeconds` (or there is no previous event); the session id
  * is the running count of breaks; sessions aggregate min(start),
  * max(end), sum(duration) and keep only sessions with
  * total duration >= `minSessionSeconds`.
  *
  * Scale: [[sessions]] is one fold ([[graft.plans.SessionFold]]) over
  * rows hash-partitioned on the keys and sorted by (keys, start,
  * tieBreakers): ONE exchange, ONE sort and one forward pass that
  * carries the previous row's end, the break count and the open
  * session's aggregates, in place of two stacked windows (LAG, running
  * SUM), the projections between them and a partial plus final
  * aggregate. It returns the window form's rows and schema (NULL
  * starts and ends, rows tied on the whole order key, several group
  * values in one session; `SessionizePropertySpec`) and adds no
  * generated class to a pass. [[mark]] keeps the window form, which
  * the specs check the fold against.
  *
  * Determinism: the reference orders by start ts alone
  * (etl-ddl-backfill.sql:139); ties would make LAG ambiguous, so
  * callers pass `tieBreakers` (e.g. end ts + a unique event id) to fix
  * a total order. With a unique total order the default RANGE window
  * frame and ROWS frame agree.
  */
object Sessionize {

  /** Adds `gap_seconds`, `session_break`, `session_id` to `df`. */
  def mark(
      df: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String,
      gapSeconds: Long,
      tieBreakers: Seq[String]): DataFrame = {
    val order: Seq[Column] = (startCol +: tieBreakers).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("gap_seconds", col(startCol) - lag(col(endCol), 1).over(w))
      .withColumn(
        "session_break",
        when(col("gap_seconds").isNull || col("gap_seconds") > gapSeconds, 1).otherwise(0))
      .withColumn("session_id", sum("session_break").over(w))
  }

  /** Full operator: sessions, aggregated per (keys, groupCols,
    * session_id) and filtered to the minimum duration, in one fold.
    * `groupCols` must functionally depend on (keys, session_id) rows the
    * way the reference's GROUP BY does (etl-ddl-backfill.sql:162-183).
    * Start, end and duration must be integral (tinyint to bigint);
    * other types are refused when the frame is built. */
  def sessions(
      df: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String,
      durationCol: String,
      gapSeconds: Long = 300L,
      minSessionSeconds: Long = 180L,
      // no default: ties in startCol make LAG/running-sum ambiguous, so a
      // caller must consciously supply a total order (e.g. end + unique id)
      tieBreakers: Seq[String],
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val grouping = (keys ++ groupCols).distinct
    val used = (grouping ++ Seq(startCol, endCol, durationCol) ++ tieBreakers).distinct
    val plan = df.select(used.map(col): _*).queryExecution.analyzed
    val attr = used.zip(plan.output).toMap
    val Seq(start, end, duration) = Seq(startCol, endCol, durationCol).map(attr)
    require(Seq(start, end, duration).forall(a => SessionFold.IntegralBits.contains(a.dataType)),
      s"Sessionize.sessions needs integral start, end and duration columns " +
        s"(tinyint, smallint, int or bigint); got $startCol ${start.dataType.sql}, " +
        s"$endCol ${end.dataType.sql}, $durationCol ${duration.dataType.sql}")
    val keyCount = keys.distinct.size
    val out = Seq(
      AttributeReference("session_id", LongType)(),
      AttributeReference("session_start_ts", start.dataType)(),
      AttributeReference("session_end_ts", end.dataType)(),
      AttributeReference("total_duration", LongType)())
    val folded = PlanBridge.dataFrame(df.sparkSession, SessionFold(
      grouping.take(keyCount).map(attr), grouping.drop(keyCount).map(attr),
      start, end, duration, tieBreakers.map(attr),
      gapSeconds, minSessionSeconds, out, plan))
    // a self-join renews the ids of aliased columns, not those a custom
    // node produces, so the session columns leave through aliases (the
    // optimizer drops them again)
    folded.select(grouping.map(col) ++ out.map(a => col(a.name).as(a.name)): _*)
  }
}
