package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Barrier

/** Always-on ARRIVAL-ORDER NOVELTY scoring (the streaming twin of the
  * oracled F37 `text_novelty` row — the crawl-monitoring loop that
  * watches novelty decay across snapshots): each micro-batch of
  * documents is scored against the STANDING gram index ("how much of
  * this batch's content has the corpus never seen?"), its per-doc
  * report written, and only its NOVEL grams appended — the index
  * stays a SET, each gram attributed to its first arrival
  * (first-arrival-wins, the F14b survivorship discipline at the gram
  * level). Seventh `CompactableIndex` family; fold clusters on gram.
  *
  * Within a batch, a gram shared by several new docs is novel only
  * for the LOWEST doc_id (the window min below) — so under
  * doc_id-ordered arrival the streamed reports equal the batch F37
  * row EXACTLY (gram first-seen = global min doc_id), which
  * StreamNoveltySpec pins.
  *
  * Replay: the probe reads the index EXCLUDING the in-flight batch's
  * own dir — a re-delivered batch sees exactly what its first
  * delivery saw (its own appended grams cannot mask its novelty) —
  * and both writes are overwrite-by-batch-dir, so an at-least-once
  * replay reproduces report and append byte-for-byte. Compaction
  * folds only committed batches (the in-flight id is preserved
  * unfolded per the CompactableIndex contract), so the exclusion
  * stays sound across the crash window.
  */
object StreamNovelty extends graft.operators.CompactableIndex {

  override protected def clusterCols: Seq[String] = Seq("gram")

  /** Bootstrap: the standing corpus's distinct grams (or an empty
    * frame to start a stream from nothing). */
  def seedGrams(grams: DataFrame, path: String): Unit =
    landSeedBatch(grams.select("gram").distinct(), path, SeedBatchId)

  /** The standing gram set as seen by batch `batchId`: every landed
    * dir EXCEPT the in-flight batch's own — the replay-absorb for
    * this family (grams carry no doc ids to anti-join on; the batch
    * dir IS the delta's identity). */
  private def standingExcept(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    spark.read.parquet(path)
      .filter(col("batch") =!= batchId)
      .select("gram")

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. `batch` must carry `doc_id` and
    * `text`. Per-doc reports land at `reportPath/batch=N` with the
    * F37 schema (doc_id, n_grams, n_novel, novelty). */
  def scoreThenAppendParquet(indexPath: String, reportPath: String,
      compactEvery: Int = 16)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // dedupe the batch by doc identity FIRST (r12 review): an
    // at-least-once source can deliver the same doc_id twice within
    // one micro-batch, and duplicated (doc_id, gram) rows would both
    // double the report's n_grams and land duplicate gram rows —
    // breaking the set invariant the anti join alone cannot protect
    // on its LEFT side
    val ex = Barrier.materialize(graft.QueriesLLM.wordGramRows(batch.dropDuplicates("doc_id"))
      .select(col("doc_id"), explode(array_distinct(col("grams"))).as("gram")))._1
    // a gram is novel for the batch's LOWEST doc carrying it (one row
    // per gram after the filter), and only if the standing corpus has
    // never seen it. LEFT_ANTI, not left-join-and-null-check (r12
    // review): an anti join cannot duplicate left rows, so it needs no
    // protective distinct over the standing index — the biggest frame
    // in the loop stays un-shuffled — and the checkpoint shrinks to
    // the small novel-rows frame.
    var novelRows: DataFrame = null
    try {
      // inside the try: this checkpoint is EAGER (standing read +
      // window + anti join run here), and a failure during it must
      // still free ex's blocks in the finally
      val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
      novelRows = Barrier.materialize(ex.withColumn("first_in_batch", min("doc_id").over(w))
        .filter(col("doc_id") === col("first_in_batch"))
        .join(standingExcept(spark, indexPath, batchId), Seq("gram"), "left_anti")
        .select(col("doc_id"), col("gram")))._1 // consumed by the report join and the append
      ex.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(novelRows.groupBy("doc_id").agg(count(lit(1)).as("n_novel")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"), 6)
            .as("novelty"))
        .write.mode("overwrite").parquet(s"$reportPath/batch=$batchId")
      landStreamBatch(novelRows.select("gram"), indexPath, batchId)
      compactIfNeeded(spark, indexPath,
        maxBatches = compactEvery, preserveBatchIds = Set(batchId))
    } finally {
      Barrier.release(ex)
      if (novelRows != null) Barrier.release(novelRows)
    }
  }
}
