package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.{Barrier, Winnow}

/** Always-on substring-level dedup: each micro-batch of new documents
  * probes the persisted winnowing fingerprint index ("did anything
  * just ingested copy a span from anything already standing?"), writes
  * its candidate pairs, then appends its own fingerprints — the
  * probe-then-append loop MinhashDelta and IvfPq run for their
  * families, on the [[graft.operators.Winnow]] substring family.
  *
  * Both writes are overwrite-by-batch-dir, so an at-least-once replay
  * replaces exactly its own output; the replayed batch's fingerprints
  * already standing in the index are absorbed by
  * [[Winnow.incrementalPairs]]'s delta-id guard (the replay reproduces
  * its original pairs — spec'd). Each near-dup pair is found exactly
  * once, when its later member arrives.
  */
object StreamSubstringDedup {

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. `batch` must carry (`idCol`: long,
    * `textCol`: string); the fingerprints come from the native
    * `winnow_fps` kernel. Seed the standing corpus with
    * [[Winnow.seedBatch]] — seeds live at ids ≥ `Winnow.SeedBatchId`,
    * structurally disjoint from the stream's 0..N, and the append
    * below refuses the seed space, so a mis-seeded index fails LOUDLY
    * instead of being silently overwritten by micro-batch N. */
  def probeThenAppendParquet(
      indexPath: String, pairsPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, w: Int = 8,
      minShared: Int = 2, maxDf: Int = 64,
      compactEvery: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fd = Barrier.materialize(Winnow.fingerprintsFast(batch, idCol, textCol, k, w))._1
    try {
      Winnow.incrementalPairs(
          Winnow.readIndex(spark, indexPath), fd, idCol, minShared, maxDf)
        .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
      Winnow.writeStreamBatch(fd, indexPath, batchId)
      // In-loop maintenance; the just-appended (uncommitted, hence
      // replayable) batch is preserved unfolded — for THIS family
      // that is a correctness requirement, not just hygiene: a folded
      // batch's replay would duplicate its (id, fp) rows and
      // n_shared counts rows (see Winnow.compactIndex).
      Winnow.compactIfNeeded(spark, indexPath,
        maxBatches = compactEvery, preserveBatchIds = Set(batchId))
    } finally Barrier.release(fd)
  }
}
