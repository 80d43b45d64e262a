package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType

/** The one materialization primitive: an eager `localCheckpoint` that
  * also reports aggregates over the rows it wrote.
  *
  * Iterative operators (tree levels, BFS rounds, supersteps) cut their
  * lineage with a checkpoint per round and then decide whether to go on
  * from a count. Run as a separate `count()`, that decision is a second
  * Spark job per round over the frame the checkpoint just wrote, and on
  * small levels the fixed cost of a job is most of the round. Here the
  * metrics ride the checkpoint's own job through `Dataset.observe`: a new
  * [[Observation]] per call collects them as the rows stream into the
  * checkpoint's blocks, so a barrier is exactly one action.
  *
  * The frame's statistics are the exact number of rows written, so a
  * join against it is planned from its real size.
  *
  * Local mode only. A reliable `checkpoint()` computes its plan a second
  * time to write the files, so an observed count could include the rows
  * twice.
  */
object Barrier {

  /** @param df      the frame to materialize
    * @param metrics aggregate expressions over `df`'s rows, each named
    *                (`count(lit(1)).as("rows")`)
    * @return the checkpointed frame, which reads `df`'s rows without
    *         recomputing them, and the row of metric values in argument
    *         order. On empty input each aggregate holds its value over
    *         no rows (a count is 0). */
  def materialize(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val observation = Observation()
    val ck = df.observe(observation, count(lit(1)).as("__barrier_rows"), metrics: _*)
      .localCheckpoint()
    // the checkpoint's query completes the observation once its job ends
    val all = Await.result(observation.future, Duration.Inf)
    val observed = new GenericRowWithSchema(all.toSeq.tail.toArray, StructType(all.schema.tail))
    (PlanBridge.withRowCount(ck, all.getLong(0)), observed)
  }
}
