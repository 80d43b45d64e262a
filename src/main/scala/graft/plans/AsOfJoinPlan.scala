package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, GenericInternalRow, InterpretedOrdering, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{BinaryType, DataType, DateType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whole-operator Catalyst extension for the BROADCAST as-of join —
  * the (c) rung of the extension ladder (custom LogicalPlan +
  * SparkStrategy + SparkPlan) reserved for semantics the built-in
  * operators can't express efficiently.
  *
  * Why it exists when [[graft.operators.AsOfJoin.nearestBefore]]
  * already works: the union+window form must SHUFFLE the fact side on
  * the key to sort each group — one full exchange of the 100-TB side.
  * When the right side is dimension-sized (weight snapshots, panel
  * windows, rate cards — the reference's own as-of shapes,
  * etl-ddl-backfill.sql:60-77), the as-of is resolvable per fact ROW
  * against a broadcast index: zero exchange, zero sort on the fact
  * side, O(log W) binary-search probe per row, and the fact side's
  * partitioning/ordering survive for downstream stages (`.explain`
  * shows no Exchange above the scan). That plan is not expressible by
  * composing existing operators: a broadcast range join explodes
  * every fact row across all <= candidates before re-aggregating.
  * Measured, the saving has not yet shown: the probe lost to the
  * union+window form on three of four registry as-of rows at a x10
  * replica of sf0.1 (4 vCPU), so it is not a route of `nearestBefore`.
  *
  * Semantics match `nearestBefore`: greatest right time <= left time
  * per key; unmatched (or NULL key/time) left rows carry NULLs; right
  * rows with NULL key/time never match; duplicate right rows at one
  * (key, time) resolve to the max carry backward and the min carry
  * forward when the carry type is orderable ([[AsOfIndexMode]] sorts
  * each key by (time, carry)).
  */
case class BroadcastAsOfJoin(
    leftKeys: Seq[Attribute],
    leftTime: Attribute,
    rightKeys: Seq[Attribute],
    rightTime: Attribute,
    carry: Seq[Attribute],
    forward: Boolean,
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ carry.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BroadcastAsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy for graft's custom logical nodes; every session
  * gets it from [[GraftExtensions]]. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: BroadcastAsOfJoin =>
      BroadcastAsOfJoinExec(j.leftKeys, j.leftTime, j.rightKeys, j.rightTime,
        j.carry.map(_.withNullability(true)), j.forward,
        planLater(j.left), planLater(j.right)) :: Nil
    case f: SessionFold =>
      SessionFoldExec(f.keys, f.groupCols, f.start, f.end, f.duration, f.tieBreakers,
        f.gapSeconds, f.minSessionSeconds, f.sessionOutput,
        org.apache.spark.sql.internal.SQLConf.get.ansiEnabled, planLater(f.child)) :: Nil
    case _ => Nil
  }
}

/** Probe index shared by both exec paths: per-key time-sorted carry
  * rows behind a key map. Keys are boxed Longs, UTF8Strings, or
  * composite UnsafeRows (all with value equals/hashCode); the
  * generated call site picks the overload matching the key's java
  * type. Built once on the DRIVER by [[AsOfIndexMode]] and decoded
  * zero-copy per executor by [[AsOfBlobDecoder]]. */
final class AsOfProbeIndex(
    map: java.util.HashMap[AnyRef, (Array[Long], Array[UnsafeRow])],
    forward: Boolean) {
  /** Primitive-long entry point for LongType keys (boxes once per row,
    * same cost the HashMap lookup always paid). */
  def probe(key: Long, t: Long): UnsafeRow =
    probe(java.lang.Long.valueOf(key): AnyRef, t)

  /** Matched carry row or null — floor (backward) / ceiling (forward)
    * binary search over the key's sorted times. */
  def probe(key: AnyRef, t: Long): UnsafeRow = {
    val entry = map.get(key)
    if (entry == null) return null
    val times = entry._1
    var lo = 0
    var hi = times.length - 1
    var ans = -1
    if (forward) {
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (times(mid) >= t) { ans = mid; hi = mid - 1 } else lo = mid + 1
      }
    } else {
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (times(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
    }
    if (ans < 0) null else entry._2(ans)
  }
}

/** Executor-level cache of decoded probe indexes, keyed by
  * (application, broadcast id, operator fingerprint). The broadcast
  * ships the driver-built index BLOB ([[AsOfIndexMode]]); without
  * this cache every TASK re-parsed it — the pre-round-6 per-task
  * variant of that (a full group+sort rebuild then) collapsed the x10
  * scale sweep into GC at 32 cores over a 1.5M-row right side. One
  * decode per executor, concurrent probers share the read-only
  * index — the same discipline Spark's own HashedRelation broadcast
  * follows. SoftReferences let the executor drop an index under
  * memory pressure; the next task re-decodes. */
object AsOfIndexCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, AnyRef), java.lang.ref.SoftReference[AnyRef]]()

  /** `recipe` must be an equals-comparable description of the FULL
    * operator configuration (key/time/carry expr ids, direction, key
    * mode) — under ReuseExchange two different as-of operators can
    * legally share one broadcast id, and only recipe EQUALITY (not a
    * 32-bit hash) guarantees they never serve each other's index. */
  def getOrBuild[T <: AnyRef](bcId: Long, recipe: AnyRef, build: () => T): T = {
    // app id scopes entries so broadcast ids from a restarted context
    // can't collide with a predecessor's (absent env = bare JVM tests)
    val appId = Option(org.apache.spark.SparkEnv.get)
      .map(_.conf.getAppId).getOrElse("no-app")
    val key = (appId, bcId, recipe)
    var result: AnyRef = null
    while (result == null) {
      // computeIfAbsent serializes builders of the SAME key: one task
      // builds, its siblings wait and share
      val ref = cache.computeIfAbsent(key,
        _ => new java.lang.ref.SoftReference[AnyRef](build()))
      result = ref.get()
      if (result == null) cache.remove(key, ref) // collected: rebuild
    }
    if (cache.size > 64) { // drop collected entries, bound stale ids
      val it = cache.entrySet().iterator()
      while (it.hasNext) if (it.next().getValue.get() == null) it.remove()
    }
    result.asInstanceOf[T]
  }
}

/** Custom [[BroadcastMode]]: the probe index is built ONCE on the
  * DRIVER (inside BroadcastExchange's collect thread, exactly where
  * Spark's own HashedRelationBroadcastMode builds its hash map) and
  * shipped pre-sorted as a single binary blob. Executors decode it
  * zero-copy — every carry row and string key is an [[UnsafeRow]] /
  * [[UTF8String]] POINTING INTO the blob — so the per-executor cost
  * drops from a full group+sort+project rebuild (O(n log n), the
  * pre-round-6 per-TASK version of which collapsed the x10 sweep into
  * GC) to one linear parse. The blob also ships LESS than the row
  * broadcast it replaces: keys appear once per key instead of once
  * per row, and only carry columns travel — not the whole right side.
  *
  * `HashedRelation` itself is sealed, so the transform result is the
  * other shape BroadcastExchange size-accounts: an Array[InternalRow]
  * holding ONE row with one BinaryType field (`dataSize` = blob size,
  * an honest number for the 8 GB broadcast guard).
  *
  * Fields are child-output POSITIONS and types — no expression ids —
  * so the mode is canonical by construction and exchange reuse
  * compares structurally.
  *
  * `keyMode`: 0 = single long (boxed), 1 = single UTF8String, 2 =
  * composite UnsafeRow of all key columns (the probe side builds the
  * same row shape with GenerateUnsafeProjection). */
case class AsOfIndexMode(
    keyIdxs: Seq[Int],
    keyTypes: Seq[DataType],
    timeIdx: Int,
    timeIsInt: Boolean,
    carryIdxs: Seq[Int],
    carryTypes: Seq[DataType],
    keyMode: Int) extends BroadcastMode {

  override def canonicalized: BroadcastMode = this

  override def transform(rows: Array[InternalRow]): Any =
    transform(rows.iterator, None)

  override def transform(
      rows: Iterator[InternalRow], sizeHint: Option[Long]): Any = {
    val keyProj =
      if (keyMode == 2)
        UnsafeProjection.create(keyIdxs.zip(keyTypes).map { case (i, dt) =>
          BoundReference(i, dt, nullable = true) }.toArray)
      else null
    val carryProj = UnsafeProjection.create(carryIdxs.zip(carryTypes).map {
      case (i, dt) => BoundReference(i, dt, nullable = true) }.toArray)
    val grouped = mutable.HashMap.empty[AnyRef, mutable.ArrayBuffer[(Long, UnsafeRow)]]
    rows.foreach { r =>
      // rows with a null key field or null time can never match — they
      // don't enter the index at all
      if (!keyIdxs.exists(r.isNullAt) && !r.isNullAt(timeIdx)) {
        val t = if (timeIsInt) r.getInt(timeIdx).toLong else r.getLong(timeIdx)
        val k: AnyRef = keyMode match {
          case 0 => java.lang.Long.valueOf(r.getLong(keyIdxs.head))
          case 1 => r.getUTF8String(keyIdxs.head).copy()
          case _ => keyProj(r).copy()
        }
        grouped.getOrElseUpdate(k, mutable.ArrayBuffer.empty) +=
          ((t, carryProj(r).copy()))
      }
    }
    // (time, carry) order when the carry is orderable: the floor probe
    // lands on the max carry among equal times, the ceiling on the min
    val byTime = Ordering.by[(Long, UnsafeRow), Long](_._1)
    val entryOrd = if (!carryTypes.forall(RowOrdering.isOrderable)) byTime
      else byTime.orElseBy(_._2)(InterpretedOrdering.forSchema(carryTypes).on[UnsafeRow](r => r))
    // blob layout: int keyMode | int nKeys | per key:
    //   key (mode 0: long; mode 1/2: int len + bytes)
    //   int n | n× long time (sorted asc) | n× (int len + row bytes)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(keyMode)
    out.writeInt(grouped.size)
    grouped.foreach { case (k, buf) =>
      keyMode match {
        case 0 => out.writeLong(k.asInstanceOf[java.lang.Long].longValue())
        case 1 =>
          val b = k.asInstanceOf[UTF8String].getBytes
          out.writeInt(b.length); out.write(b)
        case _ =>
          val kr = k.asInstanceOf[UnsafeRow]
          out.writeInt(kr.getSizeInBytes); out.write(kr.getBytes)
      }
      val sorted = buf.sorted(entryOrd)
      out.writeInt(sorted.length)
      sorted.foreach(e => out.writeLong(e._1))
      sorted.foreach { e =>
        out.writeInt(e._2.getSizeInBytes); out.write(e._2.getBytes)
      }
    }
    out.flush()
    val blobProj = UnsafeProjection.create(Array[DataType](BinaryType))
    Array[InternalRow](
      blobProj(InternalRow(bos.toByteArray)).copy(): InternalRow)
  }
}

/** Executor-side view of the driver-built blob: one linear parse per
  * EXECUTOR (cached — the broadcast value itself is shared per
  * executor by TorrentBroadcast, and [[AsOfIndexCache]] shares the
  * decoded index the same way). Decoded rows alias the blob bytes —
  * no copies; the blob lives exactly as long as the index. */
final class AsOfBlobDecoder(
    bc: org.apache.spark.broadcast.Broadcast[Array[InternalRow]],
    nKeyFields: Int,
    nCarryFields: Int,
    forward: Boolean) extends Serializable {

  def build(): AsOfProbeIndex =
    AsOfIndexCache.getOrBuild(bc.id, (3, nKeyFields, nCarryFields, forward),
      () => decode())

  private def decode(): AsOfProbeIndex = {
    // getBinary copies once per decode (per executor); all index rows
    // then point into this private copy
    val blob = bc.value(0).getBinary(0)
    val bb = java.nio.ByteBuffer.wrap(blob)
    val keyMode = bb.getInt
    val nKeys = bb.getInt
    val map = new java.util.HashMap[AnyRef, (Array[Long], Array[UnsafeRow])](
      nKeys * 2 + 1)
    var i = 0
    while (i < nKeys) {
      val k: AnyRef = keyMode match {
        case 0 => java.lang.Long.valueOf(bb.getLong)
        case 1 =>
          val len = bb.getInt; val off = bb.position()
          bb.position(off + len)
          UTF8String.fromBytes(blob, off, len)
        case _ =>
          val len = bb.getInt; val off = bb.position()
          bb.position(off + len)
          val r = new UnsafeRow(nKeyFields)
          r.pointTo(blob, Platform.BYTE_ARRAY_OFFSET + off, len)
          r
      }
      val n = bb.getInt
      val times = new Array[Long](n)
      var j = 0
      while (j < n) { times(j) = bb.getLong; j += 1 }
      val rowsArr = new Array[UnsafeRow](n)
      j = 0
      while (j < n) {
        val len = bb.getInt; val off = bb.position()
        bb.position(off + len)
        val r = new UnsafeRow(nCarryFields)
        r.pointTo(blob, Platform.BYTE_ARRAY_OFFSET + off, len)
        rowsArr(j) = r
        j += 1
      }
      map.put(k, (times, rowsArr))
      i += 1
    }
    new AsOfProbeIndex(map, forward)
  }
}

/** Physical broadcast as-of join. Declares
  * `BroadcastDistribution(AsOfIndexMode)` on the right so
  * EnsureRequirements inserts the standard BroadcastExchange (AQE
  * wraps it in a broadcast query stage as usual) — and that exchange's
  * collect thread BUILDS the index on the driver via the custom mode,
  * exactly how Spark's own hash joins drive HashedRelation
  * construction. The left side keeps its distribution AND its
  * ordering — this node is a per-row map over the fact stream; each
  * executor decodes the shipped index once (linear, zero-copy) and
  * probes with a floor/ceiling binary search per fact row. */
case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Attribute],
    leftTime: Attribute,
    rightKeys: Seq[Attribute],
    rightTime: Attribute,
    carry: Seq[Attribute],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode
  with org.apache.spark.sql.execution.CodegenSupport {

  override def output: Seq[Attribute] = left.output ++ carry

  /** The broadcast mode carries right-child POSITIONS, so the built
    * index is keyed/sorted/projected before it ever leaves the
    * driver. */
  private def indexMode: AsOfIndexMode = {
    val rOut = right.output
    AsOfIndexMode(
      keyIdxs = rightKeys.map(k => rOut.indexWhere(_.exprId == k.exprId)),
      keyTypes = rightKeys.map(_.dataType),
      timeIdx = rOut.indexWhere(_.exprId == rightTime.exprId),
      timeIsInt = rightTime.dataType == DateType || rightTime.dataType == IntegerType,
      carryIdxs = carry.map(c => rOut.indexWhere(_.exprId == c.exprId)),
      carryTypes = carry.map(_.dataType),
      keyMode = keyMode)
  }

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(indexMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  // ---- whole-stage codegen: the fact side stays inside the stream's
  // codegen span; the probe is one static-shaped call per row. The
  // generated path keys the index by boxed long, UTF8String (the
  // reference's own flagship as-of keys on a VARCHAR device id —
  // ingest-ddl.sql:2, etl-ddl-backfill.sql:116), or a composite
  // UnsafeRow for tuple keys (built by GenerateUnsafeProjection, the
  // same shape Spark's hash-join codegen uses for its stream-side
  // key). Every key shape stays inside the span.
  override def supportCodegen: Boolean =
    leftKeys.nonEmpty &&
      left.isInstanceOf[org.apache.spark.sql.execution.CodegenSupport]

  private def keyMode: Int =
    if (leftKeys.size > 1) 2
    else leftKeys.head.dataType match {
      case LongType => 0
      case org.apache.spark.sql.types.StringType => 1
      case _ => 2
    }

  // This node itself is 1:1 (one output row per input row) and carry
  // values come from stable copied index rows, so IT never forces a
  // copy — but the streamed child's requirement must still surface: if
  // a multi-output operator (e.g. a duplicate-key broadcast hash join)
  // sits under the as-of in the same codegen span, the top-level
  // append() must copy or every buffered row aliases one reused
  // UnsafeRow. Do NOT call super: the default walks BOTH children and
  // the broadcast side isn't part of this codegen tree.
  override def needCopyResult: Boolean = left match {
    case c: org.apache.spark.sql.execution.CodegenSupport => c.needCopyResult
    case _ => false
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].inputRDDs()

  override protected def doProduce(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext): String =
    left.asInstanceOf[org.apache.spark.sql.execution.CodegenSupport].produce(ctx, this)

  override def doConsume(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      input: Seq[org.apache.spark.sql.catalyst.expressions.codegen.ExprCode],
      row: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): String = {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, ExprCode, JavaCode}
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val mode = keyMode
    val builder = new AsOfBlobDecoder(bc, leftKeys.size, carry.size, forward)
    val builderRef = ctx.addReferenceObj("asofDecoder", builder,
      classOf[AsOfBlobDecoder].getName)
    val idxTerm = ctx.addMutableState(classOf[AsOfProbeIndex].getName, "asofIndex")
    ctx.currentVars = input
    // scalar modes evaluate the single key column; tuple mode builds
    // the composite UnsafeRow key with GenerateUnsafeProjection (what
    // HashJoin's codegen does for its stream-side key)
    val keyEv =
      if (mode == 2)
        org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
          .createCode(ctx, leftKeys.map(k => BindReferences.bindReference(
            k: org.apache.spark.sql.catalyst.expressions.Expression, left.output)))
      else BindReferences.bindReference(
        leftKeys.head: org.apache.spark.sql.catalyst.expressions.Expression,
        left.output).genCode(ctx)
    val timeEv = BindReferences.bindReference(
      leftTime: org.apache.spark.sql.catalyst.expressions.Expression, left.output).genCode(ctx)
    val matched = ctx.freshName("asofMatched")
    val carryVars = carry.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofIsNull")
      val value = ctx.freshName("asofValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val getter = CodeGenerator.getValue(matched, a.dataType, i.toString)
      val codeStr =
        s"""
           |boolean $isNull = ($matched == null) || $matched.isNullAt($i);
           |$jt $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} : ($getter);
         """.stripMargin
      ExprCode(code"$codeStr",
        JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
    }
    // string/tuple keys dispatch to the AnyRef overload (UTF8String /
    // UnsafeRow value equality); long keys hit the primitive overload.
    // Tuple keys with a null field probe harmlessly: the index holds
    // no null-field keys (right rows with null keys never match), so
    // the lookup misses — same carry-NULL outcome as the scalar guard.
    val keyArg =
      if (mode == 0) s"${keyEv.value}" else s"(Object) ${keyEv.value}"
    // carryVars keep their code attached: consume() emits it exactly
    // once (via evaluateRequiredVariables or the row projection).
    // Emitting it here TOO would declare each variable twice and fail
    // janino compilation -> silent interpreted fallback.
    s"""
       |if ($idxTerm == null) { $idxTerm = $builderRef.build(); }
       |${keyEv.code}
       |${timeEv.code}
       |org.apache.spark.sql.catalyst.expressions.UnsafeRow $matched = null;
       |if (!(${keyEv.isNull}) && !(${timeEv.isNull})) {
       |  $matched = $idxTerm.probe($keyArg, (long) ${timeEv.value});
       |}
       |${consume(ctx, input ++ carryVars)}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** Physical long extraction for the supported time types (all
    * long- or int-backed, so the probe compares primitives). */
  private def asLong(dt: DataType): (InternalRow, Int) => Long = dt match {
    case TimestampType | TimestampNTZType | LongType => (r, i) => r.getLong(i)
    case DateType | IntegerType => (r, i) => r.getInt(i).toLong
    case other => throw new UnsupportedOperationException(
      s"as-of time column must be timestamp/date/integral, got $other")
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val bRows = right.executeBroadcast[Array[InternalRow]]()
    val lOut = left.output
    val lKeyIdxs = leftKeys.map(k => lOut.indexWhere(_.exprId == k.exprId))
    val lTimeIdx = lOut.indexWhere(_.exprId == leftTime.exprId)
    require(lKeyIdxs.forall(_ >= 0) && lTimeIdx >= 0, "left key/time not in child output")
    val lGetT = asLong(leftTime.dataType)
    val carryAttrs = carry
    val outAttrs = output
    val leftKeyAttrs = leftKeys
    // the broadcast already IS the driver-built index; decode once per
    // executor (cached), then probe with the key shape the blob was
    // encoded with
    val decoder = new AsOfBlobDecoder(bRows, leftKeys.size, carry.size, forward)
    val km = keyMode
    left.execute().mapPartitions({ iter =>
      val index = decoder.build()
      val lKeyProj =
        if (km == 2) UnsafeProjection.create(leftKeyAttrs, lOut) else null
      val lKeyIdx = lKeyIdxs.head
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ carryAttrs)
      val joined = new JoinedRow
      val nullCarry = new GenericInternalRow(carryAttrs.size)
      iter.map { lrow =>
        var hit: UnsafeRow = null
        if (!lKeyIdxs.exists(lrow.isNullAt) && !lrow.isNullAt(lTimeIdx)) {
          // probe keys are lookup-only: no copies needed
          val key: AnyRef = km match {
            case 0 => java.lang.Long.valueOf(lrow.getLong(lKeyIdx))
            case 1 => lrow.getUTF8String(lKeyIdx)
            case _ => lKeyProj(lrow)
          }
          hit = index.probe(key, lGetT(lrow, lTimeIdx))
        }
        resultProj(joined(lrow, if (hit == null) nullCarry else hit))
      }
    }, preservesPartitioning = true)
  }
}
