package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, MapType, StructType, TimestampNTZType, TimestampType}

/** As-of join: each left row picks the right row with the greatest
  * timestamp <= its own, per key — the time-series join Spark has no
  * built-in operator for (PanelAsOf is its calendar-window cousin).
  *
  * [[nearestBefore]] is the one backward entry point, and it has one
  * plan: the union+window form (Vogelsgesang et al., SIGMOD 2022).
  * Tag the sides, union, sort each key group by (ts, side), right rows
  * first at equal ts, and carry right payloads forward with
  * last(ignoreNulls). ONE shuffle on the key and no row duplication,
  * where a range join replicates every left row per candidate right
  * row before aggregating.
  *
  * A NULL key or time never matches (SQL equality, as DuckDB's ASOF
  * LEFT JOIN): such right rows are dropped, such left rows carry NULLs;
  * duplicate right rows at one (key, ts) resolve to the max carry when
  * its type is orderable (maps aren't). The carry columns travel as
  * ONE struct, so the matched row's payload — nulls included — arrives
  * atomically; a per-column fill could tear a row across different
  * right ancestors. `rightCarry` names must not collide with left
  * columns.
  *
  * The broadcast probe ([[graft.plans.BroadcastAsOfJoin]]) returns the
  * same rows but is not a route of [[nearestBefore]]: in paired runs
  * (4 vCPU) it lost to the union+window form on three of four registry
  * as-of rows at a x10 replica of sf0.1, right sides well under any
  * broadcast limit, so a size rule would pick the slower plan. It
  * serves [[nearestAfterBroadcast]], and [[broadcastAsOf]] keeps the
  * backward probe open to the registry rows and specs that check it.
  */
object AsOfJoin {

  private val IndexTimeTypes: Set[DataType] =
    Set(DateType, IntegerType, LongType, TimestampType, TimestampNTZType)

  def nearestBefore(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      rightCarry: Seq[String]): DataFrame = {
    requireArgs(left, keyCols, rightCarry)
    val (u, w) = tagged(left, right, keyCols, tsCol, rightCarry.map(col))
    u.withColumn("__carry", last(col("__carry"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        rightCarry.map(c => col(s"__carry.$c").as(c)): _*)
  }

  /** [[nearestBefore]] with a STALENESS bound — pandas
    * `merge_asof(tolerance=...)`: the latest prior right row matches
    * only while it is fresh enough; a staler ancestor yields NULLs,
    * exactly like no match at all (an as-of enrichment that silently
    * carries month-old state forward is usually a bug, not a join).
    * `stale(leftTs, matchedTs)` returns true when the match is TOO
    * old — the caller states the clock arithmetic (datediff, epoch
    * subtraction), so the operator stays type-agnostic. The matched
    * timestamp rides the carry struct (still one shuffle) and the
    * bound is a scan-speed projection after the join. */
  def nearestBeforeWithin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      rightCarry: Seq[String],
      stale: (Column, Column) => Column): DataFrame = {
    val rtCol = "__asof_rt"
    val joined = nearestBefore(
      left, right.withColumn(rtCol, col(tsCol)),
      keyCols, tsCol, rightCarry :+ rtCol)
    val tooStale = col(rtCol).isNull || stale(col(tsCol), col(rtCol))
    rightCarry.foldLeft(joined)((d, c) =>
        d.withColumn(c, when(tooStale, lit(null)).otherwise(col(c))))
      .drop(rtCol)
  }

  /** pandas `merge_asof(direction='nearest')`: the CLOSEST right row
    * in either direction, ties toward the earlier (before) match —
    * sensor alignment and event-to-snapshot matching where "latest
    * prior" is wrong half the time. One union + TWO windows on the
    * SAME (key, ts, side) ordering — Catalyst plans them on one
    * exchange/sort, so the cost is [[nearestBefore]] plus
    * a second window function, not a second shuffle. The matched
    * timestamp rides each carry struct; `dist(leftTs, matchedTs)`
    * supplies the orderable distance (datediff, abs epoch delta —
    * caller's clock, operator stays type-agnostic). NULL keys and
    * times never match; duplicate right rows at one (key, ts) resolve
    * to the max carry before and the min carry after. */
  def nearestClosest(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightCarry: Seq[String],
      dist: (Column, Column) => Column): DataFrame = {
    requireArgs(left, Seq(keyCol), rightCarry)
    val (u, ord) = tagged(left, right, Seq(keyCol), tsCol,
      col(tsCol).as("__rt") +: rightCarry.map(col))
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wa = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u.withColumn("__b", last(col("__carry"), ignoreNulls = true).over(wb))
      .withColumn("__a", first(col("__carry"), ignoreNulls = true).over(wa))
      .filter(col("__side") === 1)
      .withColumn("__pick",
        when(col("__b").isNull, col("__a"))
          .when(col("__a").isNull, col("__b"))
          .when(dist(col(tsCol), col("__a.__rt")) <
            dist(col(tsCol), col("__b.__rt")), col("__a"))
          .otherwise(col("__b"))) // ties toward before
      .select(left.columns.map(col) ++
        rightCarry.map(c => col(s"__pick.$c").as(c)): _*)
  }

  /** Forward as-of: each left row picks the right row with the LEAST
    * timestamp >= its own, per key (DuckDB `ASOF ... ON l.t <= r.t`) —
    * next scheduled airing, next price change. The broadcast
    * zero-fact-exchange plan with a ceiling search; duplicate right
    * rows at one (key, ts) resolve to the min carry. Inputs must pass
    * [[broadcastAsOf]]'s type check. */
  def nearestAfterBroadcast(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightCarry: Seq[String]): DataFrame =
    broadcastAsOf(left, right, Seq(keyCol), tsCol, rightCarry, forward = true)

  private def requireArgs(left: DataFrame, keyCols: Seq[String], rightCarry: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "at least one key column required")
    require(rightCarry.nonEmpty, "rightCarry must name at least one column")
    require(!rightCarry.exists(left.columns.contains),
      s"carry columns ${rightCarry.mkString(",")} collide with left columns")
  }

  /** The tagged union both shuffled forms window over: left rows get
    * `__side` 1 and a NULL `__carry`, right rows `__side` 0 and the
    * struct of `carry`. Right rows with a NULL key or time are dropped:
    * under SQL equality they can never match. The window orders each
    * key by [[orderWithCarryTiebreak]]. */
  private def tagged(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      carry: Seq[Column]): (DataFrame, WindowSpec) = {
    val r = right
      .filter((tsCol +: keyCols).map(col(_).isNotNull).reduce(_ && _))
      .select(keyCols.map(col) ++ Seq(col(tsCol), struct(carry: _*).as("__carry")): _*)
      .withColumn("__side", lit(0))
    val carryType = r.schema("__carry").dataType
    val l = left.withColumn("__side", lit(1))
      .withColumn("__carry", lit(null).cast(carryType))
    (l.unionByName(r, allowMissingColumns = true),
      Window.partitionBy(keyCols.map(col): _*)
        .orderBy(orderWithCarryTiebreak(tsCol, carryType): _*))
  }

  /** (ts, side[, carry]) window ordering: right rows sort before left at
    * an equal instant, and the carry struct joins as a tiebreak when its
    * type is orderable (maps aren't), so duplicate right rows at one
    * (key, ts) resolve the same way on every run instead of by shuffle
    * delivery order. Null carries (left rows) sort first, so the side
    * rule is untouched. */
  private def orderWithCarryTiebreak(tsCol: String, carryType: DataType): Seq[Column] =
    if (RowOrdering.isOrderable(carryType))
      Seq(col(tsCol), col("__side"), col("__carry").asc_nulls_first)
    else Seq(col(tsCol), col("__side"))

  /** The broadcast probe: each left row searches a per-key sorted
    * index of the right side (floor backward, ceiling forward) — zero
    * exchange and zero sort on the fact side. Same rows as the
    * union+window form, for inputs [[indexable]] accepts. */
  private[graft] def broadcastAsOf(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      rightCarry: Seq[String],
      forward: Boolean): DataFrame = {
    requireArgs(left, keyCols, rightCarry)
    val spark = left.sparkSession
    // Fresh-alias every right column so its exprIds can never collide
    // with the left subtree (self-join safe without analyzer dedup).
    val rdf = right.select(
      keyCols.zipWithIndex.map { case (k, i) => col(k).as(s"__asof_k$i") } ++
        (col(tsCol).as("__asof_t") +: rightCarry.map(c => col(c).as(c))): _*)
    val rplan = rdf.queryExecution.analyzed
    val rOut = rplan.output
    val rKeys = rOut.take(keyCols.size)
    val rTime = rOut(keyCols.size)
    val rCarry = rOut.drop(keyCols.size + 1)
    val lplan = left.queryExecution.analyzed
    def lAttr(name: String) = {
      val hits = lplan.output.filter(_.name.equalsIgnoreCase(name))
      require(hits.size == 1, s"left column $name resolved to ${hits.size} attributes")
      hits.head
    }
    val lKeys = keyCols.map(lAttr)
    val lt = lAttr(tsCol)
    val (lTypes, rTypes) = ((lt +: lKeys).map(_.dataType), (rTime +: rKeys).map(_.dataType))
    require(indexable(lTypes, rTypes),
      s"broadcast as-of needs equal (time, key) types, an integral time and no " +
        s"float/double inside a key: $lTypes vs $rTypes")
    org.apache.spark.sql.graft.PlanBridge.dataFrame(spark,
      graft.plans.BroadcastAsOfJoin(lKeys, lt, rKeys, rTime, rCarry, forward,
        lplan, rplan))
  }

  /** (time +: key) types the index serves with SQL-equality semantics:
    * equal on both sides, a date/int/bigint/timestamp(_ntz) time (the
    * index stores longs), and no float/double anywhere inside a key —
    * SQL equality and window partitioning normalize -0.0 and NaN,
    * nested ones included; the index compares key bytes. */
  private def indexable(left: Seq[DataType], right: Seq[DataType]): Boolean = {
    def floating(t: DataType): Boolean = t match {
      case FloatType | DoubleType => true
      case s: StructType => s.fields.exists(f => floating(f.dataType))
      case a: ArrayType => floating(a.elementType)
      case m: MapType => floating(m.keyType) || floating(m.valueType)
      case _ => false
    }
    left == right && IndexTimeTypes(left.head) && !left.tail.exists(floating)
  }
}
