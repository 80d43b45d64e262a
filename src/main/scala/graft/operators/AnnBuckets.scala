package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Persisted hyperplane-bucketed vector index — the `batch=N` index
  * family for EMBEDDINGS (the sixth [[CompactableIndex]] member,
  * joining the MinHash/ICWS band rows, Winnow fingerprints,
  * corpus-prep grams and contamination state): rows are
  * (vec_id, bucket, e) with the E2b md5-hyperplane bucket — the
  * oracle-checked arithmetic of `ann_bucketed_oracle` /
  * `ann_bucket_balance`, so everything a probe computes over this
  * index hash-checks in batch form. Fold clusters on `bucket`: a
  * compacted index prunes probe scans to the probed buckets' file
  * ranges via parquet min/max, the same economics as the band-hash
  * families' manifests.
  *
  * The probe ([[matches]]) is bucket-local by construction — never
  * all-pairs: candidates are same-bucket only (the E2 serving
  * discipline; recall is priced by `ann_recall_report` and the bucket
  * geometry by `ann_bucket_balance`).
  */
object AnnBuckets extends CompactableIndex {

  /** 2^Planes buckets — matches the E2/E2b/E12/E13 row family. */
  val Planes = 4

  /** Cosine threshold for streamed near-dup matches (the D5/D11
    * embedding-dedup family's τ). */
  val Tau = 0.3

  override protected def clusterCols: Seq[String] = Seq("bucket")

  /** (vec_id, bucket, e): unit-normalized vectors with the md5
    * hyperplane bucket, so pairwise cosine is a bare dot product and
    * every column reproduces in ANSI SQL. */
  def bucketRows(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    df.select(col(idCol).as("vec_id"),
        normalize(toDouble(col(vecCol))).as("e"))
      .withColumn("bucket", hyperplaneBucketMd5(col("e"), Planes))
  }

  /** Seeds the standing corpus at the reserved seed id — the
    * bootstrap of a streaming loop ([[graft.streaming.StreamAnnIngest]]). */
  def seedBatch(rows: DataFrame, path: String): Unit =
    landSeedBatch(rows, path, SeedBatchId)

  /** Stream-side batch append (replay overwrites its own dir). */
  def writeBatch(rows: DataFrame, path: String, batchId: Long): Unit =
    landStreamBatch(rows, path, batchId)

  private def cos(a: Column, b: Column): Column = round(dot(a, b), 6)

  /** Bucket-local near-dup matches of a delta against the standing
    * index PLUS the delta's own in-batch pairs — the D10/D11
    * incremental shape: every qualifying pair is emitted exactly once
    * across distinct batches, when its LATER member arrives. Output:
    * (id_new, id_std, cos_sim) with id_new from the delta (in-batch
    * pairs orient id_new = the larger vec_id). The index join is
    * hint-free: a daily-increment delta broadcasts under AQE, a bulk
    * backfill degrades to a shuffled equi-join on bucket (the r10
    * no-forced-broadcast posture). */
  def matches(delta: DataFrame, index: DataFrame,
      tau: Double = Tau): DataFrame = {
    // ABSORB the delta's own ids out of the standing side (the
    // Winnow.incrementalPairs discipline): under an at-least-once
    // replay the delta's rows already stand in the index, and a bare
    // `<>` guard would re-pair two DISTINCT delta members through the
    // index join — each in-batch pair emitted three times, one of
    // them orientation-violating. Anti-joined, in-batch pairs come
    // from `self` exactly once and a replay reproduces its original
    // output byte-for-byte.
    val standing = index.join(
      delta.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
    val oldNew = standing.as("i")
      .join(delta.as("d"), expr("i.bucket = d.bucket AND i.vec_id <> d.vec_id"))
      .select(col("d.vec_id").as("id_new"), col("i.vec_id").as("id_std"),
        cos(col("i.e"), col("d.e")).as("cos_sim"))
    val self = delta.as("a")
      .join(delta.as("b"), expr("a.bucket = b.bucket AND a.vec_id < b.vec_id"))
      .select(col("b.vec_id").as("id_new"), col("a.vec_id").as("id_std"),
        cos(col("a.e"), col("b.e")).as("cos_sim"))
    oldNew.unionAll(self).filter(col("cos_sim") >= tau)
  }
}
