package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.IvfPq

class IvfPqSpec extends SparkTestBase {
  import spark.implicits._

  test("IVF-PQ: persisted layout prunes to nprobe cells; rerank recall@10 >= 0.9") {
    val dir = "/root/testdata/sf0.01"
    val path = Files.createTempDirectory("ivfpq").toString
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    IvfPq.writeIndex(v, "vec_id", "e", "label", path, m = 16, k = 16)

    // layout: every corpus row encoded, cell directories on disk
    val cells = spark.read.parquet(s"$path/cells")
    assert(cells.count() == v.count())
    assert(cells.select(size(col("codes"))).distinct().as[Int].collect()
      .toSeq == Seq(16), "every row carries m codes")

    val q = v.filter(col("vec_id") === 0).select("e").as[Seq[Double]].head()
    // nprobe=8 of 10 cells: the synthetic embeddings are only weakly
    // clustered, so the COARSE quantizer bounds recall (IvfSpec's sweep
    // reaches 0.9 at nprobe=8); the PQ shortlist + exact re-rank must
    // not lose anything the probed cells contain.
    val nprobe = 8

    // the probed scan reads exactly nprobe partition directories
    val short = IvfPq.adcShortlist(spark, path, q, "vec_id", "label",
      nprobe, shortlist = 100)
    // partition pruning is visible in the scan's selected partitions
    val fs = short.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.head.toString.contains("cells") => f
    }
    assert(fs.nonEmpty, "codes scan missing from plan")
    assert(fs.head.selectedPartitions.partitionCount == nprobe,
      s"probe must list exactly $nprobe cell directories, " +
        s"got ${fs.head.selectedPartitions.partitionCount}")

    // recall: exact brute-force top-10 vs rerank(ADC shortlist)
    val exact = v.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), dot(col("e"), lit(q.toArray)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val got = IvfPq.probe(spark, path, v.filter(col("vec_id") =!= 0), q,
        "vec_id", "e", "label", nprobe, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & got).size / 10.0
    assert(recall >= 0.9, s"IVF-PQ rerank recall@10: $recall " +
      s"(exact=$exact got=$got)")
  }

  test("appendToIndex: stored-quantizer encode parity; replay idempotent") {
    val dir = "/root/testdata/sf0.01"
    val path = Files.createTempDirectory("ivfpqapp").toString
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val base = v.filter(col("vec_id") % 4 =!= 0)
    val delta = v.filter(col("vec_id") % 4 === 0)
    IvfPq.writeIndex(base, "vec_id", "e", "label", path, m = 16, k = 16)
    IvfPq.appendToIndex(spark, path, delta, "vec_id", "e", "label", 1L)

    // parity: the appended codes equal a re-encode of the delta under
    // the STORED centroids + codebooks (no retraining happened)
    val cents = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/codebooks")
    val assigned = graft.operators.Ivf.assign(delta, cents, "vec_id", "e", "label")
    val resid = assigned.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        zip_with(col("e"), col("centroid"), (a, b) => a - b).as("resid"))
    val expected = graft.operators.Pq.encode(
        resid, books, "vec_id", "resid", 16, carry = Seq("label"))
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    val got = spark.read.parquet(s"$path/cells")
      .filter(col("batch") === 1L)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(got == expected, "appended codes must be the stored-codebook encoding")

    // appended vectors are probe-visible: querying with a delta vector
    // must surface its own id through the ADC shortlist + rerank
    val qid = delta.select(min(col("vec_id"))).as[Long].head()
    val q = v.filter(col("vec_id") === qid).select("e").as[Seq[Double]].head()
    val top = IvfPq.probe(spark, path, v, q, "vec_id", "e", "label",
        nprobe = 8, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(top.contains(qid), s"self-query must rank itself: $top")

    // replay: same batch id, same payload → identical per-batch counts
    val before = spark.read.parquet(s"$path/cells")
      .groupBy("batch").count().as[(Long, Long)].collect().toMap
    IvfPq.appendToIndex(spark, path, delta, "vec_id", "e", "label", 1L)
    val after = spark.read.parquet(s"$path/cells")
      .groupBy("batch").count().as[(Long, Long)].collect().toMap
    assert(after == before, s"replay changed the index: $before -> $after")
    assert(after.keySet == Set(0L, 1L))

    // error stats follow the same layout: one stats row group per
    // batch, replay-stable, and the global max is the completeness
    // margin nearDupProbe derives
    val stats = spark.read.parquet(s"$path/errstats")
    assert(stats.select("batch").distinct().as[Long].collect().toSet == Set(0L, 1L))
    assert(IvfPq.storedMaxErr(spark, path) ==
      stats.agg(max(col("max_err"))).as[Double].head())

    // quantizer-staleness on this corpus: the in-distribution append
    // reconstructs like the base (ratio ~1, no re-train). The firing
    // side needs a base with sharp quantizers — see the dedicated
    // clustered-corpus test below.
    val inDist = IvfPq.quantizerDrift(spark, path)
    assert(inDist > 0.8 && inDist < 1.25, s"in-distribution drift: $inDist")
    assert(!IvfPq.needsRetrain(spark, path))
  }

  test("quantizerDrift: clustered corpus — flat for in-distribution, fires on drift") {
    val path = Files.createTempDirectory("ivfpqdrift").toString + "/idx"
    // 8 tight clusters around one-hot centers e_0..e_7 (deterministic
    // small noise) — the distribution PQ is actually good at; the
    // trained codebooks reconstruct it sharply
    def clustered(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map { i =>
        val c = i % 8
        val raw = Seq.tabulate(64) { d =>
          val noise = (((i + d * 13) % 11) - 5) / 5.0 * 0.15
          (if (d == c) 1.0 else 0.0) + noise
        }
        val norm = math.sqrt(raw.map(x => x * x).sum)
        (i.toLong, c, raw.map(_ / norm))
      }.toDF("vec_id", "label", "e")
    IvfPq.writeIndex(clustered(0 until 400), "vec_id", "e", "label",
      path, m = 16, k = 16)
    assert(IvfPq.quantizerDrift(spark, path).isNaN, "no appends -> NaN")
    assert(!IvfPq.needsRetrain(spark, path))
    // in-distribution delta: same generator, fresh ids
    IvfPq.appendToIndex(spark, path,
      clustered(1000 until 1200), "vec_id", "e", "label", 1L)
    val inDist = IvfPq.quantizerDrift(spark, path)
    assert(inDist > 0.5 && inDist < 1.25, s"in-distribution drift: $inDist")
    assert(!IvfPq.needsRetrain(spark, path))
    // drifted delta: spikes on dims the training never populated
    val spikes = Seq.tabulate(400) { i =>
      (200000L + i, Seq.tabulate(64)(d => if (d == 32 + i % 32) 1.0 else 0.0))
    }.toDF("vec_id", "e")
    IvfPq.appendToIndex(spark, path, spikes, "vec_id", "e", "label", 2L)
    val drifted = IvfPq.quantizerDrift(spark, path)
    assert(drifted >= 1.25, s"drifted appends must raise weighted p99: $drifted")
    assert(IvfPq.needsRetrain(spark, path))

    // ---- recall RECOVERY (r10 directive #7): quantify what the
    // retrain buys for queries in the drifted region, before vs after
    val full = clustered(0 until 400)
      .unionByName(clustered(1000 until 1200))
      .unionByName(spikes.withColumn("label",
        (col("vec_id") % 8).cast("int")).select("vec_id", "label", "e"))
      .localCheckpoint()
    val vecs = full.select("vec_id", "e")
      .as[(Long, Seq[Double])].collect()
    // recall@10 with ties: hits among the probe's 10 against the set
    // of ids at or above the 10th-best exact cosine
    def recallAt10(q: Seq[Double]): Double = {
      val cos = vecs.map { case (id, e) =>
        (id, e.zip(q).map { case (a, b) => a * b }.sum) }
      val kth = cos.map(_._2).sorted(Ordering[Double].reverse)(9)
      val trueSet = cos.collect { case (id, c) if c >= kth - 1e-9 => id }.toSet
      val got = IvfPq.probe(spark, path, full, q, "vec_id", "e", "label",
          nprobe = 4, k = 10)
        .select("vec_id").as[Long].collect()
      got.count(trueSet).toDouble / 10.0
    }
    val spikeQs = Seq(32, 40, 50).map(d =>
      Seq.tabulate(64)(dd => if (dd == d) 1.0 else 0.0))
    val recallBefore = spikeQs.map(recallAt10).sum / spikeQs.size
    // the drifted mass's stored reconstruction error BEFORE the
    // retrain — the quantity that silently decays ADC quality (and
    // the one the trigger thresholds)
    val spikeErrBefore = spark.read.parquet(s"$path/errstats")
      .filter(col("batch").cast("long") === 2L)
      .agg(max(col("p99_err"))).head().getDouble(0)

    // the maintenance loop CLOSES: re-train on the full corpus
    // (base ∪ both appends) in place — writeIndex's overwrite drops
    // the old batch dirs — the trigger resets, and probe recall for
    // the once-drifted region RECOVERS
    IvfPq.writeIndex(full, "vec_id", "e", "label", path, m = 16, k = 16)
    assert(IvfPq.quantizerDrift(spark, path).isNaN, "fresh base, no appends")
    assert(!IvfPq.needsRetrain(spark, path))
    val recallAfter = spikeQs.map(recallAt10).sum / spikeQs.size
    assert(recallAfter >= 0.9,
      s"retrained index must serve the once-drifted region: recall $recallAfter")
    assert(recallAfter >= recallBefore,
      s"retrain must not lose recall: $recallBefore -> $recallAfter")
    // reconstruction RECOVERY: the retrained codebooks span the spike
    // dims, so the worst per-cell p99 across the WHOLE retrained index
    // must sit well under the drifted batch's pre-retrain p99. (On
    // this fixture recall itself never dips — identical spike vectors
    // co-assign and the exact re-rank forgives blurred ADC scores —
    // which is honest: drift degrades the ESTIMATE first; the error
    // stats are the leading indicator the trigger exists for.)
    val errAfter = spark.read.parquet(s"$path/errstats")
      .agg(max(col("p99_err"))).head().getDouble(0)
    assert(errAfter < spikeErrBefore / 1.25,
      s"retrain must recover reconstruction: $spikeErrBefore -> $errAfter")
    val q = Seq.tabulate(64)(d => if (d == 32) 1.0 else 0.0)
    val top = IvfPq.probe(spark, path, full, q, "vec_id", "e", "label",
        nprobe = 4, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(top.exists(_ >= 200000L),
      s"retrained index must serve the once-drifted region: $top")
    info(f"drift retrain loop: recall@10 $recallBefore%.2f -> $recallAfter%.2f")
  }

  test("probeIndexedBatch: per-query parity with the single-query probe, one pruned scan") {
    val dir = "/root/testdata/sf0.01"
    val path = Files.createTempDirectory("ivfpqbatch").toString
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    IvfPq.writeIndex(v, "vec_id", "e", "label", path, m = 16, k = 16)
    val qIds = Seq(0L, 7L, 123L)
    val queries = v.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("e").as("q"))
      .localCheckpoint()
    val batch = IvfPq.probeIndexedBatch(spark, path, v, queries,
      "vec_id", "e", "label", nprobe = 8, k = 10)
    val got = batch.select("query_id", "vec_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    qIds.foreach { qid =>
      val q = v.filter(col("vec_id") === qid).select("e").as[Seq[Double]].head()
      val single = IvfPq.probe(spark, path, v, q,
          "vec_id", "e", "label", nprobe = 8, k = 10)
        .select("vec_id").as[Long].collect().toSet
      assert(got(qid) == single, s"query $qid: batch=${got(qid)} single=$single")
    }
    // one pruned scan of the codes table serves the whole batch
    val scans = batch.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata("Location").contains("cells") => s
    }
    assert(scans.size == 1, s"expected exactly one cells scan, got ${scans.size}")
    assert(scans.head.metadata("PartitionFilters").contains("label"),
      scans.head.metadata("PartitionFilters"))
  }

  test("streaming increment: nearDupProbe-then-append converges to one-shot pairs") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("ivfpqstream").toString
    val path = s"$root/idx"
    val pairsPath = s"$root/pairs"
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val base = v.filter(col("vec_id") % 4 =!= 0)
    val delta = v.filter(col("vec_id") % 4 === 0)
    IvfPq.writeIndex(base, "vec_id", "e", "label", path, m = 16, k = 16)

    // the margin derives from the index's stored error stats
    // (storedMaxErr): completeness by construction. These synthetic
    // embeddings are near-incompressible, so the stored max is large
    // (~0.83) — the derived margin is honest about that.
    val maxErr = IvfPq.storedMaxErr(spark, path)
    assert(maxErr > 0 && maxErr < 2.0, s"stored max_err sane: $maxErr")

    // one-shot reference FIRST (the index is still pure base): the
    // whole delta probed in a single call
    val oneShot = IvfPq.nearDupProbe(spark, path, v, delta,
        "vec_id", "e", "label", 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the same delta as a stream of vec ids, two micro-batches —
    // the D11 loop on the QUANTIZED store: probe, land pairs, append
    val vecOf = delta.select("vec_id", "label", "e")
      .as[(Long, Int, Seq[Double])].collect().map(t => t._1 -> t).toMap
    val deltaIds = vecOf.keys.toSeq.sorted
    val (half1, half2) = deltaIds.splitAt(deltaIds.length / 2)
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("vec_id").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val withVec = batch.as[Long].collect().toSeq.map(vecOf)
          .toDF("vec_id", "label", "e")
        IvfPq.nearDupProbe(spark, path, v, withVec,
            "vec_id", "e", "label", 0.3)
          .write.mode("overwrite").parquet(s"$pairsPath/batch=$id")
        IvfPq.appendToIndex(spark, path, withVec,
          "vec_id", "e", "label", id + 1)
      }
      .start()
    try {
      input.addData(half1: _*); q.processAllAvailable()
      input.addData(half2: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(pairsPath)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == oneShot,
        s"streamed loop must converge to the one-shot pairs: " +
          s"missing=${(oneShot -- streamed).take(5)} extra=${(streamed -- oneShot).take(5)}")

      // and BOTH equal the exact recompute: same-cell pairs across
      // base ∪ delta, delta-touching, exact cosine. Cell truth per
      // the operator's contract: base rows sit where the INDEX put
      // them (refine assigns under the penultimate centroids, then
      // refines once more — stored cells ≠ re-assignment for
      // boundary rows), delta rows assign under the stored
      // centroids, as every probe and append does.
      val cents = spark.read.parquet(s"$path/centroids")
      val baseAt = spark.read.parquet(s"$path/cells")
        .filter(col("batch") === 0L).select("vec_id", "label")
        .join(v.select("vec_id", "e"), "vec_id")
        .select("vec_id", "e", "label")
      val deltaAt = graft.operators.Ivf.assign(
        delta, cents, "vec_id", "e", "label").select("vec_id", "e", "label")
      val allAssigned = baseAt.unionByName(deltaAt).localCheckpoint()
      val exact = allAssigned.as("a")
        .join(allAssigned.as("b"),
          expr("a.label = b.label AND a.vec_id < b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(dot(col("a.e"), col("b.e")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == exact,
        s"missing=${(exact -- streamed).take(5)} extra=${(streamed -- exact).take(5)}")
    } finally q.stop()
  }
}
