package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueriesLLM

/** Always-on contamination monitoring — F36
  * (`text_contamination_report`) as a foreachBatch loop: the held-out
  * evaluation set is FIXED (that is what makes it a benchmark), train
  * documents keep arriving, and the per-test-doc leak report must
  * stay current without ever rescanning ingested history.
  *
  * Per micro-batch: the batch's word-5-grams probe the broadcast
  * test-gram set (the F36 train-pass shape on batch-sized data) and
  * the MATCHED (test doc_id, gram) pairs — a subset of the test gram
  * table, so state is bounded by the benchmark size, never by the
  * train stream — land under `state/batch=N`. The readout folds
  * distinct matched pairs across batches into the SAME
  * leak_pct/severity report as the batch row (shared
  * [[QueriesLLM.contaminationReadout]]), and equals F36 run over the
  * union of all streamed batches exactly, because gram matching is
  * monotone: matched(∪ batches) = ∪ matched(batch).
  *
  * Replay contract: matching is deterministic and writes are
  * overwrite-by-batch-dir, so an at-least-once re-delivery replaces
  * its own output; the distinct fold absorbs pairs re-found across
  * DIFFERENT batches. In-loop compaction folds batch dirs through
  * [[graft.operators.BatchIndex]] with the same
  * preserve-the-in-flight-batch contract as the dedup loops
  * (duplicates here are harmless to the distinct readout — the
  * uniform contract is kept so the state layout stays interchangeable
  * with the counted families). */
object StreamContamination extends graft.operators.CompactableIndex {

  /** Fold key of the compacted state: the gram the readout distincts
    * on. Duplicates here are harmless to the distinct readout — the
    * uniform [[graft.operators.CompactableIndex]] contract is kept so
    * the state layout stays interchangeable with the counted
    * families. */
  override protected def clusterCols: Seq[String] = Seq("gram")

  /** The fixed held-out set's distinct (doc_id, gram) rows — build
    * once with [[QueriesLLM.wordGramRows]] and a Barrier; the
    * monitor broadcasts the gram column per batch. */
  def testGramRows(testDocs: DataFrame): DataFrame =
    QueriesLLM.wordGramRows(testDocs)
      .select(col("doc_id"), explode(array_distinct(col("grams"))).as("gram"))

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. `batch` carries train docs
    * (doc_id, text); `testG` is a MATERIALIZED [[testGramRows]]
    * frame. Matched pairs land under `statePath/batch=N`. */
  def probeThenAppendParquet(testG: DataFrame, statePath: String,
      compactEvery: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val hit = QueriesLLM.wordGramRows(batch)
      .select(explode(col("grams")).as("gram"))
      .join(broadcast(testG.select("gram").distinct()), "gram")
      .distinct()
    landStreamBatch(
      testG.join(broadcast(hit), Seq("gram"), "left_semi")
        .select("doc_id", "gram"),
      statePath, batchId)
    compactIfNeeded(spark, statePath,
      maxBatches = compactEvery, numFiles = 8,
      preserveBatchIds = Set(batchId))
  }

  /** The current report — F36's exact schema and thresholds over the
    * accumulated state: distinct matched pairs per test doc vs the
    * test doc's total distinct grams. Test docs with no leaks yet
    * report 0/clean (left join against the full test gram table). */
  def report(spark: SparkSession, statePath: String,
      testG: DataFrame): DataFrame = {
    val leaked = spark.read.parquet(statePath).drop("batch")
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("leaked_grams"))
    QueriesLLM.contaminationReadout(
      testG.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_grams"))
        .join(leaked, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("leaked_grams"), lit(0L)).as("leaked_grams")))
  }
}
