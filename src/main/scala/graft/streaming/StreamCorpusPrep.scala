package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Barrier, Components}
import graft.{QueriesLLM, QueriesML}

/** Always-on corpus prep — F14b (`corpus_prep_incremental`) as a
  * foreachBatch loop under the H16/H22 probe-then-append discipline:
  * each micro-batch of new documents probes the persisted GRAM index
  * of the standing (already published) corpus for near-dups, applies
  * FIRST-ARRIVAL-WINS survivorship, runs the shared gate→scrub→pack
  * chain over its survivors, writes the packed prep rows, then
  * appends the survivors' gram rows to the index.
  *
  * The survivorship invariant is INDUCTIVE, which is what makes the
  * micro-batch loop correct: the standing corpus is dedup-clean
  * because every standing doc survived this same rule when IT was the
  * delta — so delta docs chain through at most one standing hop, the
  * delta-touching edge set suffices, and appending SURVIVORS ONLY
  * keeps the invariant for the next batch (a dropped dup must never
  * become standing: it is not in the published corpus).
  *
  * Replay contract (at-least-once foreachBatch): the probe drops the
  * batch's own ids from the standing side before pairing (the
  * [[graft.operators.Winnow.incrementalPairs]] absorb discipline), so
  * a replayed batch recomputes the SAME dupes/survivors and both
  * writes overwrite their own `batch=N` dirs — byte-for-byte
  * convergent, pinned in StreamCorpusPrepSpec.
  */
object StreamCorpusPrep extends graft.operators.CompactableIndex {

  /** Fold key of the compacted `batch=-1` slot: the (lang, n_chars)
    * blocking keys the probe joins on. No manifest — the probe is a
    * blocked equi-join, so compaction buys bounded file/dir counts,
    * not range pruning. Id-space split, landing guards, and the
    * preserve-the-in-flight-batch contract are
    * [[graft.operators.CompactableIndex]]'s. */
  override protected def clusterCols: Seq[String] = Seq("lang", "n_chars")

  /** Gram rows (doc_id, lang, n_chars, grams) — the index unit; the
    * SAME shingle/blocking definition as the F14b registry row (one
    * tuning point). */
  def gramRows(docs: DataFrame): DataFrame = QueriesML.gramRowsOf(docs)

  /** Seeds the standing corpus's gram rows outside the stream's
    * id space. */
  def seedBatch(docs: DataFrame, path: String,
      seedId: Long = SeedBatchId): Unit =
    landSeedBatch(gramRows(docs), path, seedId)

  /** Lands prebuilt gram rows under a stream micro-batch id —
    * overwrite-by-batch-dir, replay-idempotent. */
  def writeBatch(g: DataFrame, path: String, batchId: Long): Unit =
    landStreamBatch(g, path, batchId)

  /** THE F14b decision kernel on explicit frames: delta doc ids to
    * DROP under FIRST-ARRIVAL-WINS. Edges are delta×standing +
    * delta×delta, blocked on (lang, n_chars) with exact gram Jaccard
    * ≥ τ (the registry row's arithmetic — [[QueriesML.scoredPairs]]);
    * a delta doc drops when its component touches ANY standing doc,
    * or it is not the min-id among a delta-only component. The spec's
    * iterated-batch yardstick calls this directly, so the streamed
    * loop and the yardstick cannot drift. */
  def dupeIds(standing: DataFrame, deltaGrams: DataFrame): DataFrame = {
    val oldNew = QueriesML.scoredPairs(standing, deltaGrams,
      "a.doc_id <> b.doc_id")
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val selfP = QueriesML.scoredPairs(deltaGrams, deltaGrams,
      "a.doc_id < b.doc_id").select("id_a", "id_b")
    val pairs = Barrier.materialize(oldNew.unionByName(selfP).distinct())._1
    val cc = Components.connectedComponents(pairs, "id_a", "id_b")
    val dset = deltaGrams.select(col("doc_id").as("id"), lit(true).as("__d"))
    val tagged = cc.join(broadcast(dset), Seq("id"), "left")
      .withColumn("__d", coalesce(col("__d"), lit(false)))
    val flags = tagged.groupBy("comp").agg(
      max(when(!col("__d"), 1L).otherwise(0L)).as("has_standing"),
      min(when(col("__d"), col("id"))).as("min_delta"))
    tagged.filter(col("__d")).join(flags, "comp")
      .filter(col("has_standing") === 1L || col("id") =!= col("min_delta"))
      .select(col("id").as("doc_id"))
  }

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. `batch` must carry (doc_id, lang,
    * n_chars, text). Prep rows for the batch's SURVIVORS land at
    * `outPath/batch=N` (the packed-shard schema of the F14b row);
    * survivors' gram rows append to `indexPath/batch=N`. Seed the
    * standing corpus with [[seedBatch]]. */
  def probeThenAppendParquet(indexPath: String, outPath: String,
      compactEvery: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val g = Barrier.materialize(gramRows(batch))._1
    try {
      // absorb replays: the batch's own rows may already stand (its
      // first delivery appended, the commit never landed)
      val standing = readIndex(spark, indexPath)
        .join(broadcast(g.select("doc_id").distinct()), Seq("doc_id"), "left_anti")
      val dupes = Barrier.materialize(dupeIds(standing, g))._1
      QueriesLLM.prepKept(batch.join(dupes, Seq("doc_id"), "left_anti"))
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // SURVIVORS ONLY join the standing set — a dropped dup is not in
      // the published corpus, and indexing it would break the
      // dedup-clean induction the one-hop edge set relies on
      writeBatch(g.join(dupes, Seq("doc_id"), "left_anti"),
        indexPath, batchId)
      compactIfNeeded(spark, indexPath,
        maxBatches = compactEvery, preserveBatchIds = Set(batchId))
    } finally Barrier.release(g)
  }
}
