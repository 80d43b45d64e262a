package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental WEIGHTED near-dup detection against a persisted ICWS
  * band index — the D8/D10 discipline ([[MinhashDelta]]) applied to
  * the weighted-Jaccard family (D19): when a delta lands, re-drawing
  * ICWS samples for the whole corpus is a full text scan PLUS the
  * h·Σ|vocab_doc| draw chain — the dominant cost of the dedup_icws
  * registry row; probing a stored band index costs the delta's own
  * draws plus an index scan that column-prunes to (doc_id, lsh_key).
  *
  * Index layout is [[MinhashDelta]]'s VERBATIM: `batch=N/` parquet
  * partitions of `(doc_id, lsh_key struct<band_id,band_hash>, sig)` —
  * one row per (document, band), the band_hash an xxhash64 over the
  * band's ICWS samples composed with the (lang, n_chars) blocking
  * values ([[Icws.bandRows]]; the blocks matter on corpora whose
  * background J_w sits near the threshold — see [[Icws.candidates]]).
  * Sharing the layout means the index MAINTENANCE surface is shared
  * too: [[MinhashDelta.compactIndex]] / [[MinhashDelta.compactIfNeeded]]
  * fold batches into one range-laid, manifest-indexed `batch=-1` slot,
  * and the pruned probe drops index files by band-hash range before
  * any footer opens. A replayed batch OVERWRITES its own partition
  * (deterministic signatures), so at-least-once ingestion never
  * duplicates index rows.
  *
  * Unlike MinhashDelta (whose verify is the O(k) signature estimate),
  * the probe returns CANDIDATES — exact weighted-Jaccard verification
  * ([[graft.QueriesML.weightedJaccardVerify]], restricted to candidate
  * ids via [[verifyExact]]) runs downstream, so the incremental result
  * EQUALS the full dedup_icws recompute restricted to delta-touching
  * pairs (IcwsDeltaSpec pins it): band keys are per-doc deterministic,
  * so a delta-touching pair collides in the incremental probe iff it
  * collides in the full self-join.
  *
  * Constants are dedup_icws's (h=16, 8 bands × 2 rows, τ=0.55,
  * (lang, n_chars) blocks).
  */
object IcwsDelta extends CompactableIndex {

  val H = 16
  val Bands = 8
  val RowsPerBand = 2
  val Tau = 0.55
  val BlockCols: Seq[String] = Seq("lang", "n_chars")

  /** The layout is [[MinhashDelta]]'s verbatim, so the compaction
    * parameterization is too: band-hash range lay + the shared
    * `_mh_stats` manifest feeding the pruned probe. */
  override protected def clusterCols: Seq[String] = Seq("lsh_key.band_hash")
  override protected def postFold(spark: SparkSession): String => Unit =
    MinhashDelta.writeManifest(spark)

  /** One row per (document, band): the index unit. `docs` must carry
    * idCol, textCol, and [[BlockCols]]. */
  def bandRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigs = Icws.signatures(docs, idCol, textCol, H)
      .join(docs.select(col(idCol) +: BlockCols.map(col): _*), idCol)
    Icws.bandRows(sigs, idCol, Bands, RowsPerBand, BlockCols)
      .select(col(idCol).as("doc_id"),
        struct(col("band").cast("int").as("band_id"),
          col("key").as("band_hash")).as("lsh_key"),
        col("sig"))
  }

  /** Lands one ingestion batch in the index —
    * [[CompactableIndex.landBatch]] over this family's band rows. */
  def writeBatch(docs: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long): Unit =
    landBatch(bandRows(docs, idCol, textCol), path, batchId)

  /** Seeds the standing corpus for a [[graft.streaming.StreamWeightedDedup]]
    * loop — the landing constrained to the seed id space (see
    * [[CompactableIndex]] for the id-space split rationale: a seed at
    * batch 0 would be silently replaced by the stream's first
    * micro-batch and every later probe would miss all
    * delta-vs-standing pairs). */
  def seedBatch(docs: DataFrame, idCol: String, textCol: String,
      path: String, seedId: Long = SeedBatchId): Unit =
    landSeedBatch(bandRows(docs, idCol, textCol), path, seedId)

  /** Lands PREBUILT band rows under a STREAM micro-batch id — the
    * append side of the streaming loop; refuses the seed space and
    * the compaction slot. */
  def writeBandRows(d: DataFrame, path: String, batchId: Long): Unit =
    landStreamBatch(d, path, batchId)

  /** Candidate pairs involving the delta: delta×corpus (via the index)
    * plus delta×delta, both bucket-local on lsh_key. The index is
    * STREAMED and column-prunes to (doc_id, lsh_key): the stored sigs
    * are never read on this path. No forced broadcast by default (r10
    * advice, mirroring the Ivf.rangeProbeIndexedBatch fix): the delta
    * band rows are materialized through Barrier, so AQE broadcasts a
    * genuinely small delta from its stored size, while a bulk backfill
    * degrades to a shuffled equi-join instead of hitting the
    * broadcast ceiling; broadcastDelta=true remains the opt-in hint
    * for the tiny daily-increment case. Pairs are (id_a < id_b);
    * `distinct` collapses multi-band collisions. Contract: delta ids
    * disjoint from indexed ids. */
  def incrementalCandidates(delta: DataFrame, idCol: String,
      textCol: String, index: DataFrame,
      broadcastDelta: Boolean = false): DataFrame =
    candFromBands(
      Barrier.materialize(bandRows(delta, idCol, textCol))._1, index,
      broadcastDelta)

  /** [[incrementalCandidates]] over PREBUILT delta band rows — the
    * streaming loop ([[graft.streaming.StreamWeightedDedup]]) computes
    * the delta's draws once and reuses them for the probe AND the
    * index append. */
  def candidatesFromBands(d: DataFrame, index: DataFrame,
      broadcastDelta: Boolean = false): DataFrame =
    candFromBands(d, index, broadcastDelta)

  private def candFromBands(d: DataFrame, index: DataFrame,
      broadcastDelta: Boolean): DataFrame = {
    val probeSide = if (broadcastDelta) broadcast(d) else d
    val oldNew = index.as("i")
      .join(probeSide.as("d"),
        expr("i.lsh_key = d.lsh_key AND i.doc_id <> d.doc_id"))
      .select(least(col("i.doc_id"), col("d.doc_id")).as("id_a"),
        greatest(col("i.doc_id"), col("d.doc_id")).as("id_b"))
    val self = d.as("a")
      .join(d.as("b"), expr("a.lsh_key = b.lsh_key AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    oldNew.unionAll(self).distinct()
  }

  /** [[incrementalCandidates]] against a COMPACTED index, reading only
    * the files whose band-hash range intersects the delta's keys —
    * [[MinhashDelta.incrementalPairsPruned]]'s structure over the
    * shared manifest. Falls back to the full index when no manifest
    * exists; batches appended after the compaction are read whole
    * (pruning is a pure optimization, never a correctness knob). */
  def incrementalCandidatesPruned(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String,
      broadcastDelta: Boolean = false): DataFrame = {
    val d = Barrier.materialize(bandRows(delta, idCol, textCol))._1
    candFromBands(d, MinhashDelta.prunedIndexFrame(spark, path, d),
      broadcastDelta)
  }

  /** Exact weighted-Jaccard verification over candidate pairs,
    * RESTRICTED to the documents the candidates actually touch (a
    * semi-join on candidate ids before the tf fold): verify cost is
    * ∝ |candidates|·shared-vocab, never a corpus text scan — the
    * production economics the incremental probe exists for. Results
    * are identical to verifying against the full docs frame because
    * the verify only ever reads tf rows of candidate ids.
    *
    * COLUMN CONTRACT (unlike the idCol-parameterized entry points):
    * `docs` must carry `doc_id`/`text` and `cand` must carry
    * `id_a`/`id_b` — the names [[graft.QueriesML.weightedJaccardVerify]]
    * itself hardcodes. Rename before calling from a differently-keyed
    * pipeline. */
  def verifyExact(docs: DataFrame, cand: DataFrame, tau: Double): DataFrame = {
    val c = Barrier.materialize(cand)._1 // feeds the id restriction + verify
    val ids = c.select(col("id_a").as("doc_id"))
      .unionAll(c.select(col("id_b").as("doc_id"))).distinct()
    graft.QueriesML.weightedJaccardVerify(
      docs.join(ids, Seq("doc_id"), "left_semi"), c, tau)
  }
}
