package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnBuckets

/** H26 `StreamAnnIngest` — the always-on vector-ingest loop (the
  * streaming twin of D11 `dedup_embedding_incremental`, bucket-local
  * like E2). Pins: streamed matches across micro-batches equal the
  * one-shot batch recompute restricted to delta-touching pairs;
  * replay across a compaction converges (matches AND index); batch
  * dir count stays bounded; the seed id space is structurally
  * protected. */
class StreamAnnIngestSpec extends SparkTestBase {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame) = df
    .select(least(col("id_new"), col("id_std")).as("a"),
      greatest(col("id_new"), col("id_std")).as("b"), col("cos_sim"))
    .as[(Long, Long, Double)].collect().toSet

  test("streamed matches equal the batch recompute; replay and compaction are exact") {
    val base = java.nio.file.Files.createTempDirectory("annloop").toString
    val (idxPath, matchesPath) = (s"$base/idx", s"$base/matches")
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val all = AnnBuckets.bucketRows(emb, "vec_id", "embedding").localCheckpoint()
    AnnBuckets.seedBatch(all.filter(col("vec_id") % 4 =!= 0), idxPath)
    val sink = graft.streaming.StreamAnnIngest.probeThenAppendParquet(
      idxPath, matchesPath, compactEvery = 1) _
    val delta = emb.filter(col("vec_id") % 4 === 0)
    val parts = (0 until 2).map(i => delta.filter(col("vec_id") % 8 === i * 4))
    parts.zipWithIndex.foreach { case (p, i) => sink(p, i.toLong) }

    // one-shot reference: same-bucket pairs at tau touching the delta
    val ref = all.as("x").join(all.as("y"),
        expr("x.bucket = y.bucket AND x.vec_id < y.vec_id"))
      .select(col("x.vec_id").as("id_std"), col("y.vec_id").as("id_new"),
        round(graft.functions.VectorFunctions.dot(col("x.e"), col("y.e")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= AnnBuckets.Tau &&
        (col("id_new") % 4 === 0 || col("id_std") % 4 === 0))
    val expected = pairs(ref)
    def streamed() = pairs(spark.read.parquet(matchesPath))
    assert(expected.nonEmpty, "fixture must exercise matches")
    assert(streamed() == expected,
      s"missing=${(expected -- streamed()).take(5)} extra=${(streamed() -- expected).take(5)}")

    // RAW rows, not the canonicalized set (r12 review: least/greatest +
    // toSet would hide duplicated or mis-oriented emissions): each pair
    // lands exactly once, oriented id_new = the later arrival
    def raw() = spark.read.parquet(matchesPath)
      .select("id_new", "id_std", "cos_sim")
      .as[(Long, Long, Double)].collect().toSeq
    val before = raw().sorted
    assert(before.size == expected.size,
      s"each pair must land exactly once: ${before.size} rows for ${expected.size} pairs")
    // arrival rank: seed corpus (0) < batch 0 (1) < batch 1 (2);
    // id_new must be the strictly-later member, or the larger id
    // within one batch
    def rank(id: Long) = if (id % 4 != 0) 0 else if (id % 8 == 0) 1 else 2
    before.foreach { case (nw, std, _) =>
      assert(rank(nw) > rank(std) || (rank(nw) == rank(std) && nw > std),
        s"orientation: id_new=$nw (rank ${rank(nw)}) vs id_std=$std (rank ${rank(std)})")
    }

    // replay the in-flight batch across the compaction boundary: its
    // rows are standing (preserved unfolded), so the re-probe must
    // reproduce its original matches and not duplicate index rows
    sink(parts(1), 1L)
    assert(streamed() == expected, "replay must converge to the same matches")
    assert(raw().sorted == before,
      "replay must reproduce the original oriented rows byte-for-byte")
    val idx = AnnBuckets.readIndex(spark, idxPath).localCheckpoint()
    assert(idx.count() == idx.distinct().count(),
      "a replayed batch must not duplicate (vec_id, bucket) rows")
    assert(idx.count() == all.count(), "index must hold exactly the corpus")
    val dirs = new java.io.File(idxPath).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(dirs.size <= 2 && dirs.contains("batch=-1"),
      s"dir count must stay bounded under compactEvery=1, got $dirs")
  }

  test("the seed space refuses stream ids and vice versa") {
    val base = java.nio.file.Files.createTempDirectory("annguard").toString
    val rows = AnnBuckets.bucketRows(
      spark.read.parquet(s"$Sf/embeddings.parquet").limit(2),
      "vec_id", "embedding")
    intercept[IllegalArgumentException] {
      AnnBuckets.writeBatch(rows, s"$base/i1", AnnBuckets.SeedBatchId)
    }
    intercept[IllegalArgumentException] {
      AnnBuckets.writeBatch(rows, s"$base/i2", -1L)
    }
  }
}
