package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.{AnnBuckets, Barrier}

/** Always-on vector ingest (H26): each micro-batch of embeddings is
  * bucketed once, probed against the persisted hyperplane index ("is
  * anything just embedded a near-dup of anything standing?"), its
  * matches written, then its own rows appended — fresh vectors are
  * searchable from the next batch on, with NO retrain (the
  * append-without-retrain discipline the batch IVF family documents,
  * here exact within the bucket geometry). The streaming twin of
  * D11 `dedup_embedding_incremental`, probe-then-append like the
  * dedup loops ([[StreamSubstringDedup]], [[StreamWeightedDedup]]).
  *
  * Replay: both writes are overwrite-by-batch-dir and the bucket
  * rows are deterministic (md5 hyperplanes), so an at-least-once
  * re-delivery replaces exactly its own output; the probe's
  * `i.vec_id <> d.vec_id` guard absorbs the replayed batch's own
  * rows already standing in the index. Compaction preserves the
  * in-flight batch ([[graft.operators.CompactableIndex]] protocol).
  *
  * Matches sink stores the verified pairs directly (cosine IS the
  * verification — unlike the text families there is no cheaper
  * candidate stage to defer), oriented (id_new, id_std, cos_sim):
  * each qualifying pair lands exactly once across distinct batches,
  * when its later member arrives.
  */
object StreamAnnIngest {

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. `batch` must carry `idCol` and
    * `vecCol` (array<float>). Seed the standing corpus with
    * [[AnnBuckets.seedBatch]] — seed ids are structurally disjoint
    * from the stream's 0..N. */
  def probeThenAppendParquet(indexPath: String, matchesPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = AnnBuckets.Tau, compactEvery: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val d = Barrier.materialize(AnnBuckets.bucketRows(batch, idCol, vecCol))._1
    try {
      AnnBuckets.matches(d, AnnBuckets.readIndex(spark, indexPath), tau)
        .write.mode("overwrite").parquet(s"$matchesPath/batch=$batchId")
      AnnBuckets.writeBatch(d, indexPath, batchId)
      AnnBuckets.compactIfNeeded(spark, indexPath,
        maxBatches = compactEvery, preserveBatchIds = Set(batchId))
    } finally Barrier.release(d)
  }
}
