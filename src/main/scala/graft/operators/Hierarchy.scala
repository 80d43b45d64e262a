package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snowflake CONNECT BY / ANSI recursive-CTE hierarchy traversal as a
  * driver-coordinated iterative join — the same superstep discipline
  * as [[Components]] (Spark has no recursive operator; the loop IS the
  * recursion, one join per LEVEL, and tree depth bounds the rounds, not
  * row count — an org chart or BOM is a few dozen levels at any data
  * size).
  *
  * Level 0 is the roots (NULL parent), read lazily from `nodes`. Each
  * later level is ONE [[Barrier]]: the still-unresolved nodes LEFT OUTER
  * JOIN the previous level on parent = id, inheriting root, depth + 1
  * and the materialized path (Snowflake's SYS_CONNECT_BY_PATH). The
  * barrier's rows with a root are the next level; its rows without one
  * are the new unresolved set. Both are filters over the same
  * checkpoint, and the barrier's own job observes both counts, so a
  * level costs one action and no anti-join.
  *
  * The loop stops when a level resolves nothing or leaves nothing
  * unresolved. Nodes unreachable from any root (orphan cycles, parents
  * that do not exist) are returned with NULL root/depth/path so callers
  * can audit them: CONNECT BY would loop, and surfacing beats looping.
  */
object Hierarchy {

  /** @param nodes     one row per node
    * @param idCol     node id column (any equatable type)
    * @param parentCol parent id column; NULL marks a root
    * @return (idCol, root_id, depth, path), one row per input row —
    *         path is '/'-joined ids from root to node; orphans carry
    *         NULL root_id, depth and path */
  def connectBy(nodes: DataFrame, idCol: String, parentCol: String): DataFrame = {
    val roots = nodes.filter(col(parentCol).isNull)
      .select(col(idCol), col(idCol).as("root_id"), lit(0).as("depth"),
        col(idCol).cast("string").as("path"))
    // levels newest first; the last round's unresolved rows are the orphans
    @tailrec def walk(unresolved: DataFrame, frontier: DataFrame,
                      levels: List[DataFrame]): DataFrame = {
      val (round, counts) = Barrier.materialize(
        unresolved.as("u")
          .join(frontier.as("f"), col("u.__parent") === col(s"f.$idCol"), "left_outer")
          .select(col(s"u.$idCol"), col("u.__parent"), col("f.root_id"),
            (col("f.depth") + 1).as("depth"),
            concat(col("f.path"), lit("/"), col(s"u.$idCol").cast("string")).as("path")),
        count(col("root_id")).as("resolved"),
        count_if(col("root_id").isNull).as("unresolved"))
      val (resolvedNow, pending) = (counts.getLong(0), counts.getLong(1))
      val next = round.filter(col("root_id").isNotNull).drop("__parent")
      val rest = round.filter(col("root_id").isNull)
      val done = if (resolvedNow > 0) next :: levels else levels
      if (resolvedNow == 0 || pending == 0) (rest.drop("__parent") :: done).reverse.reduce(_ unionByName _)
      else walk(rest.select(col(idCol), col("__parent")), next, done)
    }
    walk(nodes.filter(col(parentCol).isNotNull).select(col(idCol), col(parentCol).as("__parent")),
      roots, List(roots))
  }
}
