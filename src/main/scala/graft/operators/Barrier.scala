package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType

/** The one materialization primitive: an eager `localCheckpoint` that
  * also reports aggregates over the rows it wrote. Every operator,
  * registry row, sink and tool cuts lineage through here; no other
  * file calls `localCheckpoint` (`LocalCheckpointRatchetSpec`), so how
  * a frame is materialized and what statistics it carries is decided
  * in this one place.
  *
  * Callers that decide something from the frame they materialize (go
  * on to another round, check a length, pick a threshold) would
  * otherwise run a separate `count()` or aggregate: a second Spark job
  * over the frame the checkpoint just wrote, and on small frames the
  * fixed cost of a job is most of the work. Here the metrics ride the
  * checkpoint's own job through `Dataset.observe`: a new
  * [[Observation]] per call collects them as the rows stream into the
  * checkpoint's blocks, so a barrier is exactly one action. Callers
  * that observe nothing take `._1`.
  *
  * The frame's statistics are what the checkpoint stored: the exact
  * number of rows written and the bytes its blocks hold, so a join
  * against it is planned from its real size, arrays and long strings
  * included.
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
    (PlanBridge.withStoredStats(ck, all.getLong(0)), observed)
  }

  /** Frees the blocks behind a frame [[materialize]] returned. They
    * belong to the checkpoint's RDD, not to a cached plan, so
    * `Dataset.unpersist` would leave them until the ContextCleaner
    * collects the RDD. The frame cannot be read after this. */
  def release(frame: DataFrame): Unit = frame.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case other => throw new IllegalArgumentException(
      s"Barrier.release takes a frame Barrier.materialize returned, got ${other.nodeName}")
  }
}
