package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Incremental near-dup detection against a PERSISTED MinHash/LSH band
  * index — the 100-TB form of dedup_minhash (QueriesML): when a daily
  * delta lands, re-shingling and re-hashing the whole corpus is a full
  * 100-TB text scan; probing a stored band index is a scan of the
  * (thousands-of-times smaller) index plus MinHash over the delta
  * alone. Mirrors the reference's incremental-MERGE discipline
  * (etl-dag.sql: watermark-filtered increments, never full rebuilds)
  * applied to the dedup family.
  *
  * Index layout: `batch=N/` parquet partitions of
  * `(doc_id, lsh_key struct<band_id,band_hash>, sig array<long>)` —
  * one row per document per band. A replayed batch OVERWRITES its own
  * partition (the [[graft.streaming.MergeSink.sketchTopKParquet]]
  * layout-idempotence pattern), so at-least-once ingestion never
  * duplicates index rows.
  *
  * Constants are dedup_minhash's (5-gram shingles, k=32, 4 bands × 8
  * rows, 0.4 signature-estimate threshold); MinhashDeltaSpec pins that
  * the incremental result equals the full self-join recompute
  * restricted to pairs touching the delta — exact, because seeded
  * xxhash64 signatures are deterministic.
  */
object MinhashDelta extends CompactableIndex {

  val ShingleN = 5
  val K = 32
  val Bands = 4
  val RowsPerBand = 8
  val Threshold = 0.4

  /** Fold key of the compacted `batch=-1` slot: range-laying by the
    * band hash keeps per-file [min, max] tight for the manifest. */
  override protected def clusterCols: Seq[String] = Seq("lsh_key.band_hash")
  override protected def postFold(spark: SparkSession): String => Unit =
    writeManifest(spark)

  /** One row per (document, band): the index unit. MinHash runs in
    * WholeStageCodegen (k MIN aggregates over exploded shingle
    * positions); the output shuffle is |docs|-sized. */
  def bandRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    HashFunctions.minhashSignaturesText(docs, idCol, textCol, ShingleN, K)
      .withColumn("bands", HashFunctions.lshBands(col("sig"), Bands, RowsPerBand))
      .select(col(idCol).as("doc_id"), explode(col("bands")).as("lsh_key"),
        col("sig"))

  /** Lands one ingestion batch in the index — [[CompactableIndex]]'s
    * replay-idempotent overwrite-by-dir landing over this family's
    * band rows. */
  def writeBatch(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long): Unit =
    landBatch(bandRows(docs, idCol, textCol), path, batchId)

  /** Signature-estimate Jaccard — [[HashFunctions.signatureEstimate]],
    * the SAME expression dedup_minhash filters on. Symmetric, so
    * old-new pairs need no signature swap. */
  private def estimate(a: Column, b: Column): Column =
    HashFunctions.signatureEstimate(a, b, K)

  /** Bucket-local self-join of one band-row frame → scored (a<b)
    * pairs: the within-delta and batch-mode kernel. */
  private def selfPairs(d: DataFrame): DataFrame =
    d.as("a")
      .join(d.as("b"), expr("a.lsh_key = b.lsh_key AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        estimate(col("a.sig"), col("b.sig")).as("jaccard_est"))

  /** Near-dup pairs involving the delta: delta×corpus (via the index)
    * plus delta×delta. The corpus index is STREAMED — the delta's band
    * rows broadcast, so the index is read once, shuffled never, and
    * corpus text is never touched. Pairs are (id_a < id_b), matching
    * dedup_minhash's convention; `distinct` collapses multi-band
    * collisions. Contract: delta ids are disjoint from indexed ids
    * (re-ingested ids would pair with themselves; the self-pair guard
    * drops the degenerate case but a changed text under a reused id
    * belongs in the index via its batch overwrite, not the delta). */
  def incrementalPairs(
      delta: DataFrame, idCol: String, textCol: String,
      index: DataFrame, broadcastDelta: Boolean = false): DataFrame =
    pairsFromBands(
      Barrier.materialize(bandRows(delta, idCol, textCol))._1,
      index, broadcastDelta)

  /** The probe kernel over PREBUILT delta band rows — shared by the
    * in-memory, full-index, and file-pruned paths so their semantics
    * cannot drift. */
  private def pairsFromBands(
      d: DataFrame, index: DataFrame, broadcastDelta: Boolean): DataFrame = {
    // No FORCED broadcast by default (r10 advice — the same ceiling
    // the r9 fix removed from Ivf.rangeProbeIndexedBatch): the delta
    // band rows are materialized through Barrier by every caller, so
    // AQE has their stored size and broadcasts a genuinely small delta on its
    // own, while a bulk backfill degrades gracefully to a shuffled
    // equi-join on lsh_key instead of OOMing the driver.
    // broadcastDelta=true stays as an opt-in HINT for the tiny
    // daily-increment case where the caller knows better than stats
    // (e.g. a micro-batch probed before stats propagate).
    val probeSide = if (broadcastDelta) broadcast(d) else d
    val oldNew = index.as("i")
      .join(probeSide.as("d"),
        expr("i.lsh_key = d.lsh_key AND i.doc_id <> d.doc_id"))
      .select(
        least(col("i.doc_id"), col("d.doc_id")).as("id_a"),
        greatest(col("i.doc_id"), col("d.doc_id")).as("id_b"),
        estimate(col("i.sig"), col("d.sig")).as("jaccard_est"))
    oldNew.unionAll(selfPairs(d))
      .filter(col("jaccard_est") >= Threshold)
      .distinct()
  }

  /** Full self-join recompute over one frame — the parity yardstick
    * (and the batch-mode path when there IS no index yet). */
  def allPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    selfPairs(Barrier.materialize(bandRows(docs, idCol, textCol))._1)
      .filter(col("jaccard_est") >= Threshold)
      .distinct()

  // ---------------------------------------------------------------------
  // Index maintenance: compaction + probe-time file skipping
  // ---------------------------------------------------------------------

  private[operators] def statsPath(path: String) = s"$path/_mh_stats"

  /** Per-file `[hash_min, hash_max]` range stats over the staged fold
    * (`_mh_stats`, underscore path — invisible to normal readers), so
    * [[incrementalPairsPruned]] can drop index files BEFORE any
    * footer opens — this family's [[CompactableIndex.postFold]];
    * the fold/preserve/publish protocol itself (reserved `batch=-1`
    * slot, stale-staging clear, preserve-the-in-flight-batch replay
    * contract) is the trait's. Grouped by _metadata.file_path — the
    * same one-scan build as sources.StatsIndex (which can't index a
    * struct field by name, hence the local manifest). ROOT-RELATIVE
    * file paths: the manifest is written in the staging dir, so an
    * absolute path would die at publish. */
  private[operators] def writeManifest(spark: SparkSession)(staged: String): Unit =
    spark.read.parquet(s"$staged/batch=-1")
      .groupBy(substring_index(col("_metadata.file_path"),
        ".__staging__/", -1).as("file"))
      .agg(min(col("lsh_key.band_hash")).as("hash_min"),
        max(col("lsh_key.band_hash")).as("hash_max"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$staged/_mh_stats")

  /** Index files that can share a band hash with `hashes` (sorted
    * search per file range) and the total file count. Driver-side
    * control plane: |files| manifest rows vs |delta|·Bands hashes.
    * Pruning on the hash alone is a SUPERSET of the (band_id, hash)
    * join key — sound. */
  def pruneIndexFiles(spark: SparkSession, path: String,
      hashes: Array[Long]): (Seq[String], Int) =
    pruneWithCovered(spark, path, hashes) match {
      case (files, total, _) => (files, total)
    }

  /** One manifest read serving both prune decisions: the kept file
    * list AND the batch dirs the manifest covers (the probe needs the
    * latter to spot post-compaction appends — a second parquet read
    * for it would double the probe's fixed driver cost). */
  private[operators] def pruneWithCovered(spark: SparkSession, path: String,
      hashes: Array[Long]): (Seq[String], Int, Set[String]) = {
    val stats = spark.read.parquet(statsPath(path))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def anyIn(mn: Long, mx: Long): Boolean = {
      var i = java.util.Arrays.binarySearch(hashes, mn)
      if (i < 0) i = -i - 1 // first hash >= mn
      i < hashes.length && hashes(i) <= mx
    }
    (stats.collect { case (f, mn, mx) if anyIn(mn, mx) => s"$path/$f" }.toSeq,
      stats.length,
      stats.map(_._1.split("/").head).toSet)
  }

  /** [[incrementalPairs]] against a COMPACTED index, reading only the
    * files whose band-hash range intersects the delta's hashes. Falls
    * back to the full index when no manifest exists (un-compacted).
    * Batches APPENDED after the compaction aren't in the manifest yet
    * — they are read in full alongside the pruned files, so pruning is
    * always a pure optimization, never a correctness knob (re-compact
    * to fold them in). At 100 TB this is the difference between
    * streaming the whole index through the probe join and streaming
    * the handful of files a daily delta can actually collide with. */
  def incrementalPairsPruned(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, textCol: String,
      broadcastDelta: Boolean = false): DataFrame = {
    val d = Barrier.materialize(bandRows(delta, idCol, textCol))._1
    pairsFromBands(d, prunedIndexFrame(spark, path, d), broadcastDelta)
  }

  /** The pruned index frame behind [[incrementalPairsPruned]] AND
    * [[IcwsDelta.incrementalCandidatesPruned]] (one definition —
    * review finding: the file-pruning protocol must not live twice):
    * given MATERIALIZED delta band rows, returns the index restricted
    * to the manifest files whose band-hash range intersects the
    * delta's hashes, plus any post-compaction `batch=` dirs read
    * whole (the manifest covers exactly the batch dirs it has rows
    * under; later appends must be read in full — pruning is a pure
    * optimization, never a correctness knob). Falls back to the full
    * index when no manifest exists (un-compacted). */
  private[operators] def prunedIndexFrame(spark: SparkSession,
      path: String, d: DataFrame): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(statsPath(path))))
      return readIndex(spark, path)
    val hashes = d.select(col("lsh_key.band_hash")).distinct()
      .collect().map(_.getLong(0)).sorted
    val (files, _, covered) = pruneWithCovered(spark, path, hashes)
    val appended = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.toString)
      .filterNot(p => covered.contains(p.split("/").last))
    val paths = files ++ appended
    if (paths.isEmpty) readIndex(spark, path).filter(lit(false))
    else spark.read.option("basePath", path).parquet(paths: _*).drop("batch")
  }
}
