package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.RDDBlockId

/** Bridge into `Dataset.ofRows` (private[sql]) so graft can wrap its
  * own [[LogicalPlan]] nodes as DataFrames — the standard shim every
  * Spark extension library ships (a one-file package-private hop, not
  * an internals fork). Spark 4 moved the implementation classes to
  * `org.apache.spark.sql.classic`; the cast is safe because a local
  * or cluster session IS a classic session (connect sessions don't
  * reach this code path — graft plans are driver-side constructs).
  */
object PlanBridge {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** A checkpointed frame whose statistics are what its checkpoint
    * stored: `rows`, its exact row count, and the bytes the block
    * managers hold for the checkpoint's RDD, in memory plus on disk.
    * The optimizer's estimate for the plan it was checkpointed from
    * multiplies the sizes of a join's sides, so a loop that joins the
    * previous round's checkpoint would square it every round until
    * computing it stalls the driver; a row count times the schema's
    * per-row width counts one element per array and 20 bytes per
    * string, so an embedding frame would look small enough to
    * broadcast at any size. The block sizes are read from the block
    * manager master on the driver, without a job. */
  def withStoredStats(ck: DataFrame, rows: Long): DataFrame = {
    val r = ck.queryExecution.logical.asInstanceOf[LogicalRDD]
    val session = ck.sparkSession.asInstanceOf[ClassicSparkSession]
    val rddId = r.rdd.id
    val bytes = SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`rddId`, _), b) => b.memSize + b.diskSize }
      .sum
    val stats = Statistics(BigInt(bytes), Some(BigInt(rows)))
    dataFrame(session, r.copy()(session, Some(stats), Some(r.constraints)))
  }

  /** `e` with floating-point values normalized (-0.0 to 0.0, one NaN),
    * as GROUP BY and PARTITION BY compare them; other types unchanged. */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
