package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.{Barrier, IcwsDelta}

/** Always-on WEIGHTED (tf-aware) near-dup detection: each micro-batch
  * of new documents draws its ICWS signatures once, probes the
  * persisted band index ("is anything just ingested a weighted
  * near-dup of anything standing?"), writes its candidate pairs, then
  * appends its own band rows — the probe-then-append loop
  * [[graft.streaming.StreamSubstringDedup]] runs for the substring
  * family and [[graft.operators.MinhashDelta]] for set MinHash,
  * closing the streaming story for the D19 weighted family.
  *
  * Both writes are overwrite-by-batch-dir (deterministic signatures),
  * so an at-least-once replay replaces exactly its own output; the
  * probe's `i.doc_id <> d.doc_id` guard absorbs the replayed batch's
  * own rows already standing in the index. Each candidate pair is
  * found exactly once ACROSS DISTINCT BATCHES, when its later member
  * arrives (a replay may re-emit pairs into its own dir; readers fold
  * dirs with `distinct`, pinned in IcwsDeltaSpec).
  *
  * The sink stores CANDIDATES, not verified pairs: exact
  * weighted-Jaccard verification needs the STANDING documents' texts,
  * which the stream does not carry — run
  * [[graft.operators.IcwsDelta.verifyExact]] downstream against the
  * document store the ingest maintains (cost ∝ candidates, the
  * economics the index exists for).
  */
object StreamWeightedDedup {

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. `batch` must carry `idCol`, `textCol`
    * and [[IcwsDelta.BlockCols]]. Seed the standing corpus with
    * [[IcwsDelta.seedBatch]] — seeds live at ids ≥
    * [[IcwsDelta.SeedBatchId]], structurally disjoint from the
    * stream's 0..N, and the append below refuses to write into the
    * seed space, so a mis-seeded index fails LOUDLY instead of being
    * silently overwritten by micro-batch 0. */
  def probeThenAppendParquet(indexPath: String, pairsPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val d = Barrier.materialize(IcwsDelta.bandRows(batch, idCol, textCol))._1
    try {
      IcwsDelta.candidatesFromBands(d, IcwsDelta.readIndex(spark, indexPath))
        .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
      IcwsDelta.writeBandRows(d, indexPath, batchId)
      // In-loop maintenance (r10 verdict: without it a 1 s-trigger
      // stream accretes ~86k batch dirs/day and probe listing creeps).
      // The batch just appended is PRESERVED unfolded: it has not
      // committed yet, so it is the only batch that can still replay —
      // folded, its replay would recreate batch=N beside the compacted
      // rows and duplicate its index rows; preserved, the replay
      // overwrites its own dir, byte-for-byte idempotent.
      IcwsDelta.compactIfNeeded(spark, indexPath,
        maxBatches = compactEvery, preserveBatchIds = Set(batchId))
    } finally Barrier.release(d)
  }
}
