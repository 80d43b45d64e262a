package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, BoundReference, Expression, GenericInternalRow, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Gap-based sessions as one fold over sorted rows: what `lag(end)`, a
  * running `sum(session_break)` over the same window and a
  * `GROUP BY (keys, groupCols, session_id)` with a `HAVING` on the
  * summed duration compute, in one operator
  * ([[graft.operators.Sessionize.sessions]] builds it).
  *
  * Output: `keys ++ groupCols`, then `sessionOutput` = (`session_id`,
  * `session_start_ts`, `session_end_ts`, `total_duration`), the same
  * columns, types and nullability as the window-and-aggregate form.
  * `start`, `end` and `duration` are integral; the node is only built
  * over such columns. */
case class SessionFold(
    keys: Seq[Attribute],
    groupCols: Seq[Attribute],
    start: Attribute,
    end: Attribute,
    duration: Attribute,
    tieBreakers: Seq[Attribute],
    gapSeconds: Long,
    minSessionSeconds: Long,
    sessionOutput: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = keys ++ groupCols ++ sessionOutput
  override def producedAttributes: AttributeSet = AttributeSet(sessionOutput)
  override protected def withNewChildInternal(newChild: LogicalPlan): SessionFold =
    copy(child = newChild)
}

object SessionFold {
  /** Bit width of each type the fold reads start, end and duration as. */
  val IntegralBits: Map[DataType, Int] =
    Map(ByteType -> 8, ShortType -> 16, IntegerType -> 32, LongType -> 64)
}

/** Plans [[SessionFold]]: the child is clustered on the keys and sorted
  * by (keys, start, tieBreakers) ascending with NULLS FIRST, the
  * requirement the window form has, so `EnsureRequirements` adds the
  * same one exchange and one sort; each partition is then folded once
  * ([[SessionFoldTask]]). Keys and group columns are compared as
  * PARTITION BY and GROUP BY compare them: NULLs equal, floating-point
  * values normalized. The projections are interpreted, so the fold adds
  * no generated class to a pass. */
case class SessionFoldExec(
    keys: Seq[Attribute],
    groupCols: Seq[Attribute],
    start: Attribute,
    end: Attribute,
    duration: Attribute,
    tieBreakers: Seq[Attribute],
    gapSeconds: Long,
    minSessionSeconds: Long,
    sessionOutput: Seq[Attribute],
    ansi: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  // only sessions with a non-NULL total are emitted
  override def output: Seq[Attribute] =
    keys ++ groupCols ++ sessionOutput.init :+ sessionOutput.last.withNullability(false)
  override def producedAttributes: AttributeSet = AttributeSet(sessionOutput)

  private def normalizedKeys: Seq[SortOrder] =
    keys.map(k => SortOrder(PlanBridge.normalizeFloats(k), Ascending))
  private def order: Seq[SortOrder] = (start +: tieBreakers).map(SortOrder(_, Ascending))

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(normalizedKeys.map(_.child)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(normalizedKeys ++ order)
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def bind[E <: Expression](e: E): E = BindReferences.bindReference(e, in)
    val Seq(s, e, d) = Seq(start, end, duration)
      .map(a => IntegralColumn(in.indexWhere(_.exprId == a.exprId), a.dataType))
    val grouped = keys ++ groupCols
    val task = SessionFoldTask(
      sameKey = new InterpretedOrdering(normalizedKeys.map(bind(_))),
      samePeer = new InterpretedOrdering(order.map(bind(_))),
      grouping = grouped.map(a => bind(PlanBridge.normalizeFloats(a))),
      output = (grouped ++ sessionOutput).zipWithIndex.map { case (a, i) =>
        BoundReference(i, a.dataType, a.nullable)
      },
      start = s, end = e, duration = d, gapBits = math.max(s.bits, e.bits),
      gapSeconds = gapSeconds, minSessionSeconds = minSessionSeconds, ansi = ansi)
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions(rows => new task.Fold(rows, numOutputRows))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SessionFoldExec =
    copy(child = newChild)
}

/** An integral column, read widened to a long. */
private[plans] final case class IntegralColumn(ordinal: Int, dataType: DataType) {
  def bits: Int = SessionFold.IntegralBits(dataType)
  def isNull(row: InternalRow): Boolean = row.isNullAt(ordinal)
  def get(row: InternalRow): Long = dataType match {
    case ByteType => row.getByte(ordinal)
    case ShortType => row.getShort(ordinal)
    case IntegerType => row.getInt(ordinal)
    case _ => row.getLong(ordinal)
  }
  /** `v` boxed as an [[InternalRow]] of this type holds it. */
  def box(v: Long): Any = dataType match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case _ => v
  }
}

/** What one task needs to fold its partition, built on the driver. */
private[plans] final case class SessionFoldTask(
    sameKey: InterpretedOrdering,
    samePeer: InterpretedOrdering,
    grouping: Seq[Expression],
    output: Seq[Expression],
    start: IntegralColumn,
    end: IntegralColumn,
    duration: IntegralColumn,
    gapBits: Int,
    gapSeconds: Long,
    minSessionSeconds: Long,
    ansi: Boolean) {

  /** `start - prevEnd` as Spark's `Subtract` evaluates it: in the wider
    * of the two types, failing on overflow under ANSI and wrapping
    * otherwise. */
  private def gap(s: Long, e: Long): Long =
    if (gapBits == 64) { if (ansi) Math.subtractExact(s, e) else s - e }
    else {
      val d = s - e
      val wrapped = (d << (64 - gapBits)) >> (64 - gapBits)
      if (ansi && wrapped != d)
        throw new ArithmeticException(s"session gap $d overflows its $gapBits-bit type")
      wrapped
    }

  /** min(start), max(end), sum(duration) of one (session, group value);
    * NULL inputs are skipped and an aggregate of no value is NULL. */
  private final class Agg {
    var minStart, maxEnd, total = 0L
    var hasStart, hasEnd, hasTotal = false
  }

  /** The fold over one partition, sorted by (keys, start, tieBreakers).
    * A row opens a session (a "break") when it is the first of its key,
    * or its start or the previous row's end is NULL, or the gap between
    * them exceeds `gapSeconds`. Rows tied on the whole order key are one
    * RANGE peer group and all take the break count after its last row,
    * so a group is buffered until the order key moves. The open session
    * keeps one [[Agg]] per (keys, groupCols) value, keyed by its
    * normalized UnsafeRow as a hash aggregate keys it, and is emitted
    * when the next break or key closes it. */
  final class Fold(input: Iterator[InternalRow], numOutputRows: SQLMetric)
      extends Iterator[InternalRow] {
    private val groupKey = InterpretedUnsafeProjection.createProjection(grouping)
    private val project = InterpretedUnsafeProjection.createProjection(output)
    private val out = new java.util.ArrayDeque[InternalRow]
    private val session = new java.util.HashMap[UnsafeRow, Agg]
    private val peers = new ArrayBuffer[InternalRow]
    private var peerBreaks = 0L
    private var sessionId = 0L
    private var prev: InternalRow = null
    private var done = false
    private val aggRow = new GenericInternalRow(4)
    private val joined = new JoinedRow

    override def hasNext: Boolean = {
      while (out.isEmpty && !done) {
        if (input.hasNext) consume(input.next())
        else { closePeers(); emit(); done = true }
      }
      !out.isEmpty
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      out.removeFirst()
    }

    private def consume(row: InternalRow): Unit = {
      if (prev != null && sameKey.compare(prev, row) != 0) {
        closePeers(); emit(); sessionId = 0L; prev = null
      } else if (prev != null && samePeer.compare(prev, row) != 0) closePeers()
      if (prev == null || start.isNull(row) || end.isNull(prev) ||
          gap(start.get(row), end.get(prev)) > gapSeconds) peerBreaks += 1
      prev = row.copy()
      peers += prev
    }

    private def closePeers(): Unit = {
      if (peerBreaks > 0) { emit(); sessionId += peerBreaks }
      peers.foreach(add)
      peers.clear()
      peerBreaks = 0L
    }

    private def add(row: InternalRow): Unit = {
      val k = groupKey(row)
      var a = session.get(k)
      if (a == null) { a = new Agg; session.put(k.copy(), a) }
      if (!start.isNull(row)) {
        val s = start.get(row)
        if (!a.hasStart || s < a.minStart) { a.minStart = s; a.hasStart = true }
      }
      if (!end.isNull(row)) {
        val e = end.get(row)
        if (!a.hasEnd || e > a.maxEnd) { a.maxEnd = e; a.hasEnd = true }
      }
      if (!duration.isNull(row)) {
        val d = duration.get(row)
        a.total = if (!a.hasTotal) d else if (ansi) Math.addExact(a.total, d) else a.total + d
        a.hasTotal = true
      }
    }

    /** Emits the open session's groups whose total reaches the minimum. */
    private def emit(): Unit = {
      val it = session.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        val a = e.getValue
        if (a.hasTotal && a.total >= minSessionSeconds) {
          aggRow.update(0, sessionId)
          aggRow.update(1, if (a.hasStart) start.box(a.minStart) else null)
          aggRow.update(2, if (a.hasEnd) end.box(a.maxEnd) else null)
          aggRow.update(3, a.total)
          out.add(project(joined(e.getKey, aggRow)).copy())
          numOutputRows += 1
        }
      }
      session.clear()
    }
  }
}
