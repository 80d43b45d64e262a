package graft.operators

import scala.annotation.tailrec
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** Snowflake CONNECT BY / ANSI recursive-CTE hierarchy traversal. Spark
  * has no recursive operator, so the recursion is either a walk on the
  * driver or a driver-coordinated loop of joins, and the code picks
  * between them from what it observes:
  *
  *  1. '''Probe.''' One job collects `(id, parent)` behind
  *     `limit(LocalMaxNodes + 1)` (the `PanelAsOf.assign` pattern), but
  *     only when both columns have one type among int, bigint and
  *     string. Other types skip it.
  *  2. '''Local route.''' When the probe saw at most 2^16^ nodes, every
  *     id is non-NULL and unique, and the paths' total length, added up
  *     from the walk's depths before any string is built, stays under
  *     `LocalMaxPathChars`, an iterative walk on the driver resolves
  *     root, depth and path (no recursion: a deep chain cannot overflow
  *     the stack, and a node on the current chain seen again is a
  *     cycle). The rows come back through `createDataFrame`, so the
  *     answer is a local relation: no join, no exchange, no further job.
  *  3. '''Barrier loop''', in every other case. Level 0 is the roots
  *     (NULL parent), read lazily from `nodes`. Each later level is ONE
  *     [[Barrier]]: the still-unresolved nodes LEFT OUTER JOIN the
  *     previous level on parent = id, inheriting root, depth + 1 and the
  *     materialized path (Snowflake's SYS_CONNECT_BY_PATH). The
  *     barrier's rows with a root are the next level; its rows without
  *     one are the new unresolved set. Both are filters over the same
  *     checkpoint, and the barrier's own job observes both counts, so a
  *     level costs one action and no anti-join. The loop stops when a
  *     level resolves nothing or leaves nothing unresolved; tree depth
  *     bounds the rounds, not row count (an org chart or BOM is a few
  *     dozen levels at any data size). A repeated id puts its row in
  *     the frontier once per copy, and the join would then hand each
  *     child one row per copy. The barrier also observes how many rows
  *     it read, so a level that wrote more rows than it read is redone
  *     against the frontier's distinct rows, and so is every later
  *     level: clean input pays no dedup shuffle, and the output keeps
  *     one row per input row.
  *
  * Both routes return the same rows under the same schema. Nodes
  * unreachable from any root (orphan cycles, parents that do not exist)
  * are returned with NULL root/depth/path so callers can audit them:
  * CONNECT BY would loop, and surfacing beats looping. The local route
  * refuses duplicate ids (its index holds one node per id), NULL ids
  * (the loop's join gives a NULL id a NULL path), and a parent typed
  * apart from the id (the join compares them after a cast the walk
  * would have to mimic). An id listed under two different parents has
  * no single path and is out of scope: each child of it comes back
  * once per distinct path.
  *
  * The limits are constants: they bound driver memory (the probe's rows
  * and the path strings) and pick between routes that give the same
  * rows, so no caller has a reason to set them. Specs force the loop on
  * small hierarchies through [[routed]].
  */
object Hierarchy {

  /** Most nodes the local route collects. */
  private val LocalMaxNodes = 1 << 16

  /** Most path characters, summed over all nodes, the local route builds. */
  private val LocalMaxPathChars = 1L << 23

  /** @param nodes     one row per node
    * @param idCol     node id column (any equatable type)
    * @param parentCol parent id column; NULL marks a root
    * @return (idCol, root_id, depth, path), one row per input row —
    *         path is '/'-joined ids from root to node; orphans carry
    *         NULL root_id, depth and path */
  def connectBy(nodes: DataFrame, idCol: String, parentCol: String): DataFrame =
    routed(nodes, idCol, parentCol)._1

  /** [[connectBy]] with the node limit open to specs. A limit of 0
    * turns the local route and its probe off.
    * @return (rows, route), route ∈ {"local", "barrier"} */
  private[graft] def routed(nodes: DataFrame, idCol: String, parentCol: String,
      localMaxNodes: Int = LocalMaxNodes): (DataFrame, String) = {
    val pairs = nodes.select(col(idCol), col(parentCol))
    val Seq(idField, parentField) = pairs.schema.fields.toSeq
    val walkable = localMaxNodes > 0 && idField.dataType == parentField.dataType &&
      Seq[DataType](IntegerType, LongType, StringType).contains(idField.dataType)
    val walked =
      if (!walkable) None
      else {
        val probed = pairs.limit(localMaxNodes + 1).collect()
        if (probed.length > localMaxNodes) None else parentWalk(probed)
      }
    walked match {
      case Some(rows) =>
        val schema = StructType(Seq(idField,
          StructField("root_id", idField.dataType), StructField("depth", IntegerType),
          StructField("path", StringType)))
        (nodes.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema), "local")
      case None => (barrierLoop(nodes, idCol, parentCol), "barrier")
    }
  }

  /** (id, root_id, depth, path) per probed (id, parent) row, in input
    * order, or None when an id is NULL or repeated or the paths would
    * exceed [[LocalMaxPathChars]]. */
  private def parentWalk(probed: Array[Row]): Option[Array[Row]] = {
    val n = probed.length
    val ids = probed.map(_.get(0))
    if (ids.contains(null)) return None
    val index = mutable.HashMap.empty[Any, Int]
    ids.iterator.zipWithIndex.foreach { case (id, i) => index(id) = i }
    if (index.size != n) return None
    val Root = -1
    val Dangling = -2
    val parent = probed.map(r =>
      if (r.isNullAt(1)) Root else index.getOrElse(r.get(1), Dangling))
    val text = ids.map(_.toString)
    // per node: 0 unseen, 1 on the current chain, 2 resolved, 3 orphan
    val state = new Array[Int](n)
    val depth = new Array[Int](n)
    val root = new Array[Int](n)
    val pathLen = new Array[Long](n)
    val chain = mutable.ArrayBuffer.empty[Int]
    for (start <- 0 until n if state(start) == 0) {
      // climb until a root, a resolved node, or a dead end
      var cur = start
      var orphan = false
      var climbing = true
      while (climbing) state(cur) match {
        case 0 =>
          state(cur) = 1
          chain += cur
          parent(cur) match {
            case Root => climbing = false
            case Dangling => orphan = true; climbing = false
            case p => cur = p
          }
        case 2 => climbing = false                  // joins a resolved branch
        case _ => orphan = true; climbing = false   // a cycle or an orphan branch
      }
      // settle the chain from its top down, each node after its parent
      var k = chain.length - 1
      while (k >= 0) {
        val v = chain(k)
        if (orphan) state(v) = 3
        else {
          val p = parent(v)
          if (p == Root) { root(v) = v; pathLen(v) = text(v).length }
          else {
            depth(v) = depth(p) + 1
            root(v) = root(p)
            pathLen(v) = pathLen(p) + 1 + text(v).length
          }
          state(v) = 2
        }
        k -= 1
      }
      chain.clear()
    }
    val resolved = (0 until n).filter(state(_) == 2)
    if (resolved.iterator.map(pathLen(_)).sum > LocalMaxPathChars) return None
    val path = new Array[String](n)
    resolved.sortBy(depth(_)).foreach { v =>
      path(v) = if (parent(v) == Root) text(v) else path(parent(v)) + "/" + text(v)
    }
    Some(Array.tabulate(n) { v =>
      if (state(v) == 2) Row(ids(v), ids(root(v)), depth(v), path(v))
      else Row(ids(v), null, null, null)
    })
  }

  /** One [[Barrier]] per level, as the class doc describes. */
  private def barrierLoop(nodes: DataFrame, idCol: String, parentCol: String): DataFrame = {
    val roots = nodes.filter(col(parentCol).isNull)
      .select(col(idCol), col(idCol).as("root_id"), lit(0).as("depth"),
        col(idCol).cast("string").as("path"))
    // levels newest first; the last round's unresolved rows are the orphans
    @tailrec def walk(unresolved: DataFrame, frontier: DataFrame,
                      levels: List[DataFrame], distinctFrontier: Boolean): DataFrame = {
      val read = Observation()
      val f = if (distinctFrontier) frontier.distinct() else frontier
      val (round, counts) = Barrier.materialize(
        unresolved.observe(read, count(lit(1)).as("rows")).as("u")
          .join(f.as("f"), col("u.__parent") === col(s"f.$idCol"), "left_outer")
          .select(col(s"u.$idCol"), col("u.__parent"), col("f.root_id"),
            (col("f.depth") + 1).as("depth"),
            concat(col("f.path"), lit("/"), col(s"u.$idCol").cast("string")).as("path")),
        count(col("root_id")).as("resolved"),
        count_if(col("root_id").isNull).as("unresolved"))
      val (resolvedNow, pending) = (counts.getLong(0), counts.getLong(1))
      // more rows out than in: a frontier id matched twice, so the level
      // is redone against the frontier's distinct rows, as are later ones
      val fannedOut = resolvedNow + pending > Await.result(read.future, Duration.Inf).getLong(0)
      val next = round.filter(col("root_id").isNotNull).drop("__parent")
      val rest = round.filter(col("root_id").isNull)
      val done = if (resolvedNow > 0) next :: levels else levels
      if (!distinctFrontier && fannedOut) walk(unresolved, frontier, levels, distinctFrontier = true)
      else if (resolvedNow == 0 || pending == 0)
        (rest.drop("__parent") :: done).reverse.reduce(_ unionByName _)
      else walk(rest.select(col(idCol), col("__parent")), next, done, distinctFrontier)
    }
    walk(nodes.filter(col(parentCol).isNotNull).select(col(idCol), col(parentCol).as("__parent")),
      roots, List(roots), distinctFrontier = false)
  }
}
