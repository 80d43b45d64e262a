package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.operators.{Embed, Embedder, HashEmbedder, Ivf}
import graft.sources.ViewingData

/** The production-embedder SWAP POINT (operators/Embed.scala): a real
  * model binding implements [[Embedder]]; everything downstream is
  * already proven against the deterministic fake. Pins (1) the
  * mapPartitions plumbing is value-exact vs the SQL hash stub, (2)
  * the batch contract (sizes, order, misbehavior rejected), (3) the
  * full chunk → embed → IVF build → probe chain composes through the
  * interface. */
object EmbedContractSpec {
  // executor-side call log (local[*] = one JVM, so statics observe it)
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  val maxSeen = new AtomicInteger(0)
}

/** An embedder that records batch sizes through the static log. */
final case class CountingEmbedder(dim: Int) extends Embedder {
  private val inner = HashEmbedder(dim)
  def embed(texts: Seq[String]): Seq[Array[Double]] = {
    EmbedContractSpec.calls.add(texts.length)
    EmbedContractSpec.maxSeen.getAndAccumulate(texts.length, math.max)
    inner.embed(texts)
  }
}

/** Misbehaving fakes: wrong vector count / wrong dim. */
final case class DropOneEmbedder(dim: Int) extends Embedder {
  def embed(texts: Seq[String]): Seq[Array[Double]] =
    HashEmbedder(dim).embed(texts).drop(1)
}
final case class WrongDimEmbedder(dim: Int) extends Embedder {
  def embed(texts: Seq[String]): Seq[Array[Double]] =
    HashEmbedder(dim + 1).embed(texts)
}

/** The Arrow/mapInPandas-shaped binding: a real model client often
  * RE-BATCHES the driver-side batch into its own transport
  * micro-batches (server max-batch ≠ Spark-side batchSize) and
  * reassembles. Correct reassembly is invisible to the caller — this
  * binding sub-batches at a size deliberately misaligned with the
  * contract batchSize (7 vs 16, so every contract batch straddles
  * sub-batch boundaries) and must still be value-exact. */
final case class SubBatchingEmbedder(dim: Int, subBatch: Int) extends Embedder {
  private val inner = HashEmbedder(dim)
  def embed(texts: Seq[String]): Seq[Array[Double]] =
    texts.grouped(subBatch).flatMap(inner.embed).toSeq
}

/** A transport that loses the tail of the response when a sub-batch
  * boundary is crossed — the misalignment bug class the count check
  * exists for: the caller CAN'T repair it, only refuse it. */
final case class TailLossEmbedder(dim: Int, subBatch: Int) extends Embedder {
  private val inner = HashEmbedder(dim)
  def embed(texts: Seq[String]): Seq[Array[Double]] = {
    val subs = texts.grouped(subBatch).map(inner.embed).toSeq
    if (subs.length > 1) subs.init.flatten else subs.flatten
  }
}

object FlakyRpc {
  /** once-per-(partition, batch-index) failure injector */
  val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val attempts = new AtomicInteger(0)
}

/** An RPC client whose FIRST call for any given batch throws (the
  * transient model-server failure: connection reset, deadline
  * exceeded) and succeeds on re-call. */
final case class FlakyRpcEmbedder(dim: Int) extends Embedder {
  private val inner = HashEmbedder(dim)
  def embed(texts: Seq[String]): Seq[Array[Double]] = {
    FlakyRpc.attempts.incrementAndGet()
    // key = the batch identity (partition + full text list hash): the
    // retry of the SAME batch maps to the same key, while distinct
    // batches that happen to share a first text (exact-dup corpus
    // rows) do not collide
    val key = org.apache.spark.TaskContext.getPartitionId() + ":" + texts.hashCode()
    if (FlakyRpc.failed.add(key))
      throw new java.io.IOException(s"simulated RPC failure for $key")
    inner.embed(texts)
  }
}

/** The production client-side retry wrapper: bounded re-calls on
  * transport errors. embed() is stateless per batch, so a re-call is
  * idempotent — the same property that makes a full Spark TASK retry
  * safe (the partition re-runs from its start; order and count are
  * re-established by the contract, nothing is appended twice because
  * the task's previous output is discarded with the failed attempt). */
final case class RetryingEmbedder(inner: Embedder, maxRetries: Int) extends Embedder {
  def dim: Int = inner.dim
  def embed(texts: Seq[String]): Seq[Array[Double]] = {
    var tries = 0
    while (true) {
      try return inner.embed(texts)
      catch {
        case e: java.io.IOException =>
          tries += 1
          if (tries > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** A float32 model binding: computes in single precision (every real
  * GPU encoder) and widens to double AT THE BOUNDARY, as the
  * interface contract prescribes. */
final case class Float32Embedder(dim: Int) extends Embedder {
  def embed(texts: Seq[String]): Seq[Array[Double]] = texts.map { t =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = Array.tabulate(dim) { i =>
      val h = md.digest((t + ":" + i).getBytes("UTF-8"))
      md.reset()
      val v = ((h(0) & 0xffL) << 16) | ((h(1) & 0xffL) << 8) | (h(2) & 0xffL)
      (v.toFloat / 16777216.0f * 2 - 1)
    }
    val norm = math.sqrt(raw.foldLeft(0.0f)((a, x) => a + x * x).toDouble).toFloat
    raw.map(x => (x / norm).toDouble) // float32 → float64 widening
  }
}

class EmbedContractSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8

  test("mapPartitions plumbing is value-EXACT vs the SQL hash stub; carries pass through") {
    val docs = ViewingData.table(spark, Sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).limit(200)
    val viaOperator = Embed.withEmbeddings(docs, "text", "e", HashEmbedder(dim))
      .select(col("doc_id"), col("lang"), col("e"))
    val viaSql = docs.select(col("doc_id"), col("lang"),
      QueriesLLM.hashEmbed(col("text"), dim).as("e"))
    val a = viaOperator.as[(Long, String, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val b = viaSql.as[(Long, String, Seq[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(a.keySet == b.keySet, "carry columns must pass through untouched")
    a.foreach { case (k, e) =>
      assert(e == b(k), s"doc $k: operator and SQL stub embeddings differ")
    }
  }

  test("batch contract: ≤ batchSize texts per call, all rows embedded, order kept") {
    EmbedContractSpec.calls.clear()
    EmbedContractSpec.maxSeen.set(0)
    val docs = ViewingData.table(spark, Sf, "documents")
      .select("doc_id", "text").limit(150).repartition(4)
    val out = Embed.withEmbeddings(docs, "text", "e",
      CountingEmbedder(dim), batchSize = 16)
    assert(out.count() == 150)
    val sizes = EmbedContractSpec.calls.toArray(Array.empty[Integer]).map(_.toInt)
    assert(sizes.sum == 150, s"every text embedded exactly once: $sizes")
    assert(EmbedContractSpec.maxSeen.get() <= 16,
      s"no call may exceed batchSize, saw ${EmbedContractSpec.maxSeen.get()}")
    // schema: appended array<double> column, original columns first
    assert(out.columns.toSeq == Seq("doc_id", "text", "e"))
  }

  test("misbehaving bindings fail the job instead of misaligning rows") {
    val docs = ViewingData.table(spark, Sf, "documents")
      .select("doc_id", "text").limit(20).coalesce(1)
    intercept[Exception] {
      Embed.withEmbeddings(docs, "text", "e", DropOneEmbedder(dim)).count()
    }
    intercept[Exception] {
      Embed.withEmbeddings(docs, "text", "e", WrongDimEmbedder(dim)).count()
    }
    intercept[IllegalArgumentException] { // output column collision
      Embed.withEmbeddings(docs, "text", "text", HashEmbedder(dim))
    }
  }

  test("sub-batching binding (Arrow/mapInPandas shape) reassembles exactly; tail loss is refused") {
    val docs = ViewingData.table(spark, Sf, "documents")
      .select("doc_id", "text").limit(100).repartition(3)
    // 7-wide transport sub-batches under a 16-wide contract batch:
    // every contract batch straddles sub-batch boundaries, so any
    // reassembly order bug or off-by-one surfaces as a value diff
    val got = Embed.withEmbeddings(docs, "text", "e",
        SubBatchingEmbedder(dim, subBatch = 7), batchSize = 16)
      .select(col("doc_id"), col("e"))
      .as[(Long, Seq[Double])].collect().toMap
    val want = Embed.withEmbeddings(docs, "text", "e",
        HashEmbedder(dim), batchSize = 16)
      .select(col("doc_id"), col("e"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got.keySet == want.keySet && got.forall { case (k, e) => e == want(k) },
      "sub-batched reassembly must be value-exact")
    // a transport that drops the tail sub-batch returns the wrong
    // count — the plumbing must refuse (it cannot repair alignment)
    intercept[Exception] {
      Embed.withEmbeddings(docs, "text", "e",
        TailLossEmbedder(dim, subBatch = 7), batchSize = 16).count()
    }
  }

  test("transient RPC failure: bare binding fails the job; retry wrapper recovers exactly") {
    val docs = ViewingData.table(spark, Sf, "documents")
      .select("doc_id", "text").limit(60).repartition(2)
    // bare flaky client: first call per batch throws → job fails
    // loudly (local[n] has maxTaskFailures=1; on a cluster the TASK
    // retry re-runs the partition, which the stateless-batch contract
    // makes idempotent — pinned here by the wrapper path below)
    FlakyRpc.failed.clear(); FlakyRpc.attempts.set(0)
    intercept[Exception] {
      Embed.withEmbeddings(docs, "text", "e", FlakyRpcEmbedder(dim)).count()
    }
    // production shape: bounded client-side retry around the same
    // flaky transport → every batch succeeds on its second call and
    // the output is value-identical to the clean embedder
    FlakyRpc.failed.clear(); FlakyRpc.attempts.set(0)
    val got = Embed.withEmbeddings(docs, "text", "e",
        RetryingEmbedder(FlakyRpcEmbedder(dim), maxRetries = 2), batchSize = 16)
      .select(col("doc_id"), col("e"))
      .as[(Long, Seq[Double])].collect().toMap
    val want = Embed.withEmbeddings(docs, "text", "e",
        HashEmbedder(dim), batchSize = 16)
      .select(col("doc_id"), col("e"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got.keySet == want.keySet && got.forall { case (k, e) => e == want(k) },
      "retried batches must be value-identical to the clean run")
    // every batch paid exactly one failure + one success
    assert(FlakyRpc.attempts.get() == 2 * FlakyRpc.failed.size(),
      s"attempts ${FlakyRpc.attempts.get()} vs failures ${FlakyRpc.failed.size()}")
    // exhausted retries surface the transport error, not a hang:
    // maxRetries = 0 re-throws the first failure
    FlakyRpc.failed.clear()
    intercept[Exception] {
      Embed.withEmbeddings(docs, "text", "e",
        RetryingEmbedder(FlakyRpcEmbedder(dim), maxRetries = 0)).count()
    }
  }

  test("float32 binding: widens at the boundary, ≈1e-7 of the double path, IVF-compatible") {
    val docs = ViewingData.table(spark, Sf, "documents")
      .select("doc_id", "text").limit(80).coalesce(1)
    val f32 = Embed.withEmbeddings(docs, "text", "e", Float32Embedder(dim))
      .select(col("doc_id"), col("e")).as[(Long, Seq[Double])].collect().toMap
    val f64 = Embed.withEmbeddings(docs, "text", "e", HashEmbedder(dim))
      .select(col("doc_id"), col("e")).as[(Long, Seq[Double])].collect().toMap
    assert(f32.keySet == f64.keySet)
    // close (single-precision error ~1e-7 on unit vectors), NOT
    // bit-equal — the boundary is where precision is declared, and
    // downstream consumers must not assume exactness across bindings
    var anyDiff = false
    f32.foreach { case (k, e) =>
      e.zip(f64(k)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"doc $k: f32 $a vs f64 $b")
        if (a != b) anyDiff = true
      }
      // widened vectors stay unit-norm within float tolerance
      val n = math.sqrt(e.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-6, s"doc $k: norm $n")
    }
    assert(anyDiff, "corpus must actually exercise the precision boundary")
    // the widened column feeds the same downstream: self-retrieval at
    // cosine ≈ 1 through a small IVF over the float32-derived vectors
    val emb = Embed.withEmbeddings(docs, "text", "e", Float32Embedder(dim))
      .withColumn("cell", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
      .localCheckpoint()
    val (index, cents) = Ivf.refine(emb, "doc_id", "e", "cell", rounds = 1)
    val path = java.nio.file.Files.createTempDirectory("embed-f32").toString
    Ivf.writeIndex(index, cents, "cell", path)
    val probe = emb.limit(1).select(col("doc_id").as("want"), col("e").as("q"))
      .collect().head
    val q = Seq(probe.getSeq[Double](1)).toDF("q")
    val hit = Ivf.probeIndexed(
      spark, path, q, "doc_id", "e", "cell", nprobe = 4, k = 1).head()
    assert(hit.getLong(0) == probe.getLong(0) &&
      math.abs(hit.getDouble(2) - 1.0) < 1e-6, s"$hit")
  }

  test("chunk → Embed.withEmbeddings → IVF build → probe composes through the interface") {
    val path = java.nio.file.Files.createTempDirectory("embed-ivf").toString
    val docs = ViewingData.table(spark, Sf, "documents").select("doc_id", "text")
    val chunks = Embed.withEmbeddings(
        QueriesLLM.chunkDocs(docs, 64, 48), "chunk_text", "e",
        HashEmbedder(dim), batchSize = 32)
      .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_idx"))
      .select(col("chunk_id"), col("chunk_text"), col("e"))
      .localCheckpoint()
    val seeded = chunks.withColumn("cell",
      pmod(xxhash64(col("chunk_id")), lit(8)).cast("int"))
    val (index, cents) = Ivf.refine(seeded, "chunk_id", "e", "cell", rounds = 2)
    Ivf.writeIndex(index, cents, "cell", path)
    // unique-text chunks self-retrieve at cosine ~1 (the RagPipelineSpec
    // property, now driven through the production interface)
    val probes = chunks.groupBy("chunk_text")
      .agg(count(lit(1)).as("n"), first("chunk_id").as("chunk_id"),
        first("e").as("e"))
      .filter(col("n") === 1).limit(3)
      .select(col("chunk_id").as("want_id"), col("e").as("q"))
      .collect()
    assert(probes.length == 3)
    probes.foreach { r =>
      val q = Seq(r.getSeq[Double](1)).toDF("q")
      val hit = Ivf.probeIndexed(
        spark, path, q, "chunk_id", "e", "cell", nprobe = 2, k = 1).head()
      assert(hit.getLong(0) == r.getLong(0), s"self-retrieval missed: $hit")
      assert(math.abs(hit.getDouble(2) - 1.0) < 1e-6)
    }
  }
}
