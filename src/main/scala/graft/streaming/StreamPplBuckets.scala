package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueriesLLM
import graft.operators.Barrier

/** Always-on LM-quality bucketing — F35 (`corpus_ppl_buckets`) as a
  * foreachBatch loop: documents keep arriving, each must be routed
  * head/middle/tail AT INGEST (the training-mix decision), and the
  * calibration artifact (unigram LM + two tertile thresholds) must
  * track corpus drift without rescanning history per batch.
  *
  * Serving stays the F35 shape: each micro-batch scores against the
  * PERSISTED artifact — a broadcast-sized freq join plus a literal-
  * threshold comparison, no window, no sort, no state lookup. The
  * artifact is rebuilt every `recalibrateEvery` batches (the H24
  * maintenance discipline) from two accumulated `batch=N` stores:
  * token-count increments (bounded by |vocab| per batch; the folded
  * LM is one |vocab| aggregate) and the calibration POOL's token rows
  * (the `doc_id % 10` docs — 10% of the stream; recalibration's one
  * linear scan, paid once per N batches like any index compaction).
  * The scale-critical stage — threshold selection — reuses
  * [[QueriesLLM.pplThresholds]], so its rank window stays capped by
  * the md5 rate gate regardless of how large the accumulated pool
  * grows.
  *
  * Replay contract (at-least-once foreachBatch): recalibration runs
  * at the BATCH BOUNDARY, BEFORE the batch scores, and folds state
  * batches EXCLUDING the in-flight id — a replayed batch whose first
  * delivery already appended its state rows therefore rebuilds the
  * artifact from exactly the inputs the first delivery saw, scores
  * identically, and every write overwrites its own `batch=N` dir.
  * Artifact swaps are staged + atomically published
  * ([[graft.sources.LakeWriter.publish]]).
  *
  * Under a FIXED artifact (no recalibration due), streamed buckets
  * equal the F35 registry row run over the seed corpus exactly —
  * pinned in StreamPplBucketsSpec.
  */
object StreamPplBuckets {

  /** Token-count increments (tok, c) per batch — the LM's state.
    * Folded at recalibration; compaction clusters by tok. */
  private[graft] object TokState extends graft.operators.CompactableIndex {
    override protected def clusterCols: Seq[String] = Seq("tok")
    def append(rows: DataFrame, path: String, batchId: Long): Unit =
      landStreamBatch(rows, path, batchId)
    def seed(rows: DataFrame, path: String): Unit =
      landSeedBatch(rows, path, SeedBatchId)
  }

  /** Calibration-pool token rows (doc_id, tok) per batch — the
    * threshold stage's input (pool docs only). */
  private[graft] object PoolState extends graft.operators.CompactableIndex {
    override protected def clusterCols: Seq[String] = Seq("doc_id")
    def append(rows: DataFrame, path: String, batchId: Long): Unit =
      landStreamBatch(rows, path, batchId)
    def seed(rows: DataFrame, path: String): Unit =
      landSeedBatch(rows, path, SeedBatchId)
  }

  /** The ONE unigram count definition (shared with the F16/F35
    * chain — a drift here would break the streamed == batch
    * bit-for-bit contract the spec pins). */
  private def tokCounts(toks: DataFrame): DataFrame =
    QueriesLLM.unigramFreqOfToks(toks)

  private def poolRows(toks: DataFrame): DataFrame =
    toks.filter(col("doc_id") % 10 === 0)

  /** Reads a state store EXCLUDING `dropBatchId` (the in-flight batch
    * during its own recalibration — see the replay contract). */
  private def readState(spark: SparkSession, path: String,
      dropBatchId: Option[Long]): DataFrame = {
    val all = spark.read.parquet(path)
    dropBatchId.fold(all)(id => all.filter(col("batch") =!= id)).drop("batch")
  }

  /** Rebuilds the artifact (freq table + thresholds) from the
    * accumulated state and publishes it atomically. Deterministic in
    * its inputs: replaying a recalibration overwrites the artifact
    * with identical content. */
  def calibrate(spark: SparkSession, statePath: String, poolPath: String,
      artifactPath: String, excludeBatchId: Option[Long] = None): Unit = {
    val freq = Barrier.materialize(readState(spark, statePath, excludeBatchId)
      .groupBy("tok").agg(sum("c").as("c")))._1 // consumed by the pool scoring AND the write
    // materialize BEFORE pplThresholds: its rate gate runs a count()
    // action and the rank stage re-reads the frame — unmaterialized,
    // the pool×freq LM join (the recalibration's dominant scan) would
    // evaluate twice (gotcha #4; the batch caller checkpoints too)
    val lp = Barrier.materialize(QueriesLLM.logprobOfToks(
        readState(spark, poolPath, excludeBatchId), freq))._1
    val th = QueriesLLM.pplThresholds(lp)
    val staged = graft.sources.LakeWriter.stagingPath(artifactPath)
    val fs = new org.apache.hadoop.fs.Path(staged)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(staged), true) // crashed leftovers
    freq.write.mode("overwrite").parquet(s"$staged/freq")
    val thRows = th.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    spark.createDataFrame(thRows).toDF("rn", "logprob")
      .coalesce(1).write.mode("overwrite").parquet(s"$staged/th")
    graft.sources.LakeWriter.publish(spark, staged, artifactPath)
  }

  /** Seeds both state stores from the standing corpus and calibrates
    * — afterwards the artifact equals what F35 computes over that
    * corpus (same freq, same capped thresholds). */
  def seed(docs: DataFrame, statePath: String, poolPath: String,
      artifactPath: String): Unit = {
    val spark = docs.sparkSession
    val toks = Barrier.materialize(QueriesLLM.tokenRows(docs))._1
    try {
      TokState.seed(tokCounts(toks), statePath)
      PoolState.seed(poolRows(toks), poolPath)
      calibrate(spark, statePath, poolPath, artifactPath)
    } finally Barrier.release(toks)
  }

  /** Buckets a batch's docs under the CURRENT artifact — the F35
    * serving arithmetic against a fixed LM (OOV tokens skipped; a doc
    * with no in-vocab tokens is absent, see
    * [[QueriesLLM.logprobOfToks]]). */
  def bucketBatch(spark: SparkSession, artifactPath: String,
      batch: DataFrame): DataFrame =
    bucketToks(spark, artifactPath, QueriesLLM.tokenRows(batch))

  private def bucketToks(spark: SparkSession, artifactPath: String,
      toks: DataFrame): DataFrame = {
    val freq = spark.read.parquet(s"$artifactPath/freq")
    val th = spark.read.parquet(s"$artifactPath/th")
      .orderBy("rn").select("logprob").collect().map(_.getDouble(0))
    QueriesLLM.logprobOfToks(toks, freq)
      .select(col("doc_id"), col("logprob"), col("n_tokens"),
        QueriesLLM.pplBucketCol(th).as("bucket"))
  }

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. `batch` carries (doc_id, text).
    * Bucketed rows land at `outPath/batch=N`; token-count and pool
    * state append under the same id; recalibration fires on batch
    * boundaries every `recalibrateEvery` batches. Seed the standing
    * corpus with [[seed]] first. */
  def scoreThenAppendParquet(artifactPath: String, statePath: String,
      poolPath: String, outPath: String,
      recalibrateEvery: Int = 8, compactEvery: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (recalibrateEvery > 0 && batchId > 0 && batchId % recalibrateEvery == 0)
      // exclude the in-flight id: a replayed batch must rebuild from
      // exactly what its first delivery saw, not its own state rows
      calibrate(spark, statePath, poolPath, artifactPath,
        excludeBatchId = Some(batchId))
    val toks = Barrier.materialize(QueriesLLM.tokenRows(batch))._1
    try {
      bucketToks(spark, artifactPath, toks)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      TokState.append(tokCounts(toks), statePath, batchId)
      PoolState.append(poolRows(toks), poolPath, batchId)
      TokState.compactIfNeeded(spark, statePath,
        maxBatches = compactEvery, numFiles = 8,
        preserveBatchIds = Set(batchId))
      PoolState.compactIfNeeded(spark, poolPath,
        maxBatches = compactEvery, numFiles = 8,
        preserveBatchIds = Set(batchId))
    } finally Barrier.release(toks)
  }
}
