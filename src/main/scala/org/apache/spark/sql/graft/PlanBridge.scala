package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** A checkpointed frame whose statistics are `rows`, its exact row
    * count, instead of the optimizer's estimate for the plan it was
    * checkpointed from. That estimate multiplies the sizes of a join's
    * sides, so a loop that joins the previous round's checkpoint
    * squares it every round until computing it stalls the driver. */
  def withRowCount(ck: DataFrame, rows: Long): DataFrame = {
    val r = ck.queryExecution.logical.asInstanceOf[LogicalRDD]
    val session = ck.sparkSession.asInstanceOf[ClassicSparkSession]
    val stats = Statistics(EstimationUtils.getSizePerRow(r.output) * rows, Some(BigInt(rows)))
    dataFrame(session, r.copy()(session, Some(stats), Some(r.constraints)))
  }
}
