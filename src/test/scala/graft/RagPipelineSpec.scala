package graft

import org.apache.spark.sql.functions._

import graft.sources.ViewingData

/** The composed RAG ingestion path end to end: corpus → overlapping
  * chunks (doc_chunk's 64/48 law) → deterministic hash embeddings
  * (q_chunk_embed's stub with real plumbing) → IVF index build →
  * partition-pruned probe — then the always-on half: NEW docs chunked,
  * embedded and appended against the STORED centroids (no retrain),
  * immediately retrievable. Every stage is an operator the registry
  * already verifies in isolation; this spec pins that they COMPOSE. */
class RagPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8

  private def embedChunks(docs: org.apache.spark.sql.DataFrame) =
    QueriesLLM.chunkDocs(docs, 64, 48)
      .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_idx"))
      .select(col("chunk_id"), col("chunk_text"),
        QueriesLLM.hashEmbed(col("chunk_text"), dim).as("e"))

  test("q_hybrid_search_indexed: the exact probe path engages and matches the brute row") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, Sf).collect().map(_.toString).sorted.toSeq
    // engine-side equality with the brute-force row (both claim the
    // SAME DuckDB oracle; this pins it directly, tie-breaks included)
    assert(rows("q_hybrid_search_indexed") == rows("q_hybrid_search"))
    // the runtime exactness guarantee ENGAGES on this corpus — the row
    // would still be correct through the brute fallback, but the
    // 100-TB story is the probe: >= 20 candidates clear tau + margin,
    // so the global dense top-20 is provably inside the candidate set
    val path = QueriesML.stampedIndexPath(spark, Sf, "documents", "hybivf_d8c16v1")
    val cand = graft.operators.Ivf.rangeProbeIndexed(spark, path,
      spark.range(1).select(graft.functions.VectorFunctions.normalize(
        QueriesLLM.hashEmbedRaw(lit("table stream merge"), 8)).as("q")),
      "doc_id", "e", "cell", minCos = 0.2)
    assert(cand.filter(col("cos_sim") >= 0.2 + 1e-5).count() >= 20,
      "the exact probe path must engage on the test corpus")
  }

  test("chunk → embed → IVF index → probe: every unique chunk self-retrieves; appended docs retrievable without retrain") {
    val path = java.nio.file.Files.createTempDirectory("rag-ivf").toString
    val docs = ViewingData.table(spark, Sf, "documents").select("doc_id", "text")
    val chunks = embedChunks(docs).localCheckpoint()

    // build: seed cells by id hash, two Lloyd rounds, persist
    val seeded = chunks.withColumn("cell",
      pmod(xxhash64(col("chunk_id")), lit(8)).cast("int"))
    val (index, cents) =
      graft.operators.Ivf.refine(seeded, "chunk_id", "e", "cell", rounds = 2)
    graft.operators.Ivf.writeIndex(index, cents, "cell", path)

    // probe: three chunks with UNIQUE text (duplicate text ⇒ identical
    // embedding ⇒ the tie legitimately resolves to the other copy)
    val probes = chunks.groupBy("chunk_text")
      .agg(count(lit(1)).as("n"), first("chunk_id").as("chunk_id"),
        first("e").as("e"))
      .filter(col("n") === 1).limit(3)
      .select(col("chunk_id").as("want_id"), col("e").as("q"))
      .collect()
    assert(probes.length == 3, "corpus should have unique-text chunks")
    probes.foreach { r =>
      val q = Seq(r.getSeq[Double](1)).toDF("q")
      val hit = graft.operators.Ivf.probeIndexed(
        spark, path, q, "chunk_id", "e", "cell", nprobe = 2, k = 1).head()
      assert(hit.getLong(0) == r.getLong(0),
        s"self-retrieval missed: wanted ${r.getLong(0)}, got $hit")
      assert(math.abs(hit.getDouble(2) - 1.0) < 1e-6,
        s"self cosine must be ~1, got ${hit.getDouble(2)}")
    }

    // append: a novel doc arrives; chunk+embed+append against STORED
    // centroids, then the probe finds it with no index rebuild
    val novel = Seq((900001L,
      (1 to 80).map(i => s"wombat$i telemetry").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = embedChunks(novel)
    graft.operators.Ivf.appendToIndex(
      spark, path, delta, "chunk_id", "e", "cell", batchId = 1L)
    val dRow = delta.orderBy("chunk_id").head()
    val q2 = Seq(dRow.getSeq[Double](2)).toDF("q")
    val hit2 = graft.operators.Ivf.probeIndexed(
      spark, path, q2, "chunk_id", "e", "cell", nprobe = 2, k = 1).head()
    assert(hit2.getLong(0) == dRow.getLong(0),
      s"appended chunk not retrievable: $hit2")
    assert(math.abs(hit2.getDouble(2) - 1.0) < 1e-6)
  }

  test("always-on RAG ingestion: foreachBatch chunk→embed→append keeps the index serving") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("rag-stream").toString
    val docs = ViewingData.table(spark, Sf, "documents").select("doc_id", "text")
    val chunks = embedChunks(docs).localCheckpoint()
    val seeded = chunks.withColumn("cell",
      pmod(xxhash64(col("chunk_id")), lit(8)).cast("int"))
    val (index, cents) =
      graft.operators.Ivf.refine(seeded, "chunk_id", "e", "cell", rounds = 2)
    graft.operators.Ivf.writeIndex(index, cents, "cell", path)

    // the document FEED is the stream; each micro-batch runs the whole
    // ingestion stage — chunk, embed, append against STORED centroids
    // (replay-idempotent by the batch=N dynamic-overwrite layout)
    val newDocs = Seq(
      (910001L, (1 to 70).map(i => s"auk$i colony census").mkString(" ")),
      (910002L, (1 to 70).map(i => s"quasar$i lensing survey").mkString(" ")))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.operators.Ivf.appendToIndex(
          spark, path, embedChunks(batch), "chunk_id", "e", "cell", id + 1)
      }
      .start()
    try {
      input.addData(newDocs(0)); q.processAllAvailable()
      input.addData(newDocs(1)); q.processAllAvailable()
    } finally q.stop()
    // chunks from BOTH micro-batches are immediately retrievable
    newDocs.foreach { case (did, text) =>
      val want = embedChunks(Seq((did, text)).toDF("doc_id", "text"))
        .orderBy("chunk_id").head()
      val probe = Seq(want.getSeq[Double](2)).toDF("q")
      val hit = graft.operators.Ivf.probeIndexed(
        spark, path, probe, "chunk_id", "e", "cell", nprobe = 2, k = 1).head()
      assert(hit.getLong(0) == want.getLong(0), s"doc $did: $hit")
      assert(math.abs(hit.getDouble(2) - 1.0) < 1e-6)
    }
  }
}
