package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class IvfSpec extends SparkTestBase {
  import spark.implicits._

  test("ann_ivf recalls most of brute-force top-10 with nprobe=3/10") {
    val dir = "/root/testdata/sf0.01"
    val ivf = SparkEntry.queries("ann_ivf")(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    val brute = SparkEntry.queries("ann_bruteforce")(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size == 10 && brute.size == 10)
    val recall = (ivf & brute).size / 10.0
    assert(recall >= 0.5, s"recall@10 $recall too low; ivf=$ivf brute=$brute")
  }

  test("IVF recall/nprobe curve: monotone, ≥0.7@4, ≥0.9@8, exact at nprobe=cells") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    // One index build (the build-once/probe-many shape), swept at four
    // probe widths: any future change to cells, assignment, or probe
    // pruning that degrades the recall curve fails here, not in prod.
    val dir = "/root/testdata/sf0.01"
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val (index, cents) = graft.operators.Ivf.refine(v, "vec_id", "e", "label", rounds = 3)
    val nCells = cents.count().toInt
    val query = v.filter(col("vec_id") === 0).select(col("e").as("q"))
    val brute = v.filter(col("vec_id") =!= 0).crossJoin(broadcast(query))
      .select(col("vec_id"), dot(col("e"), col("q")).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet

    val sweep = Seq(1, 2, 4, 8, nCells).map { np =>
      val got = graft.operators.Ivf.probe(
          index.filter(col("vec_id") =!= 0), cents, query,
          "vec_id", "e", "label", nprobe = np, k = 10)
        .select("vec_id").as[Long].collect().toSet
      np -> (got & brute).size / 10.0
    }
    val recalls = sweep.map(_._2)
    // Floors sit one notch under the measured curve (0.8 / 1.0 on the
    // 3-round-refined index): the synthetic embeddings are only weakly
    // clustered, so recall@4-of-10-cells CANNOT reach the ~0.9 a
    // naturally clustered corpus gives — the spec pins the achievable
    // shape, with slack only for benign FP-order jitter.
    assert(recalls.sliding(2).forall(w => w.head <= w.last),
      s"recall must not degrade as nprobe grows: $sweep")
    assert(sweep.toMap.apply(4) >= 0.7, s"recall@10 at nprobe=4: $sweep")
    assert(sweep.toMap.apply(8) >= 0.9, s"recall@10 at nprobe=8: $sweep")
    assert(recalls.last == 1.0,
      s"probing every cell must reproduce brute force exactly: $sweep")
  }

  test("persisted index: probe matches in-memory probe and prunes to nprobe partitions") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val dir = "/root/testdata/sf0.01"
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val cents = graft.operators.Ivf.centroids(v, "label", "e").localCheckpoint()
    val index = graft.operators.Ivf.assign(v, cents, "vec_id", "e", "label")
      .filter(col("vec_id") =!= 0).localCheckpoint()
    graft.operators.Ivf.writeIndex(index, cents, "label", path)
    val query = v.filter(col("vec_id") === 0).select(col("e").as("q"))

    val mem = graft.operators.Ivf.probe(index, cents, query,
      "vec_id", "e", "label", nprobe = 3, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val persisted = graft.operators.Ivf.probeIndexed(spark, path, query,
      "vec_id", "e", "label", nprobe = 3, k = 10)
    assert(persisted.select("vec_id").as[Long].collect().toSet == mem,
      "persisted probe must reproduce the in-memory probe")

    // the scale property: the cells scan carries a literal partition
    // filter — only the probed directories are read
    val scans = persisted.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata("Location").contains("cells") => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.metadata("PartitionFilters").contains("label"),
      scans.head.metadata("PartitionFilters"))
    assert(scans.head.selectedPartitions.partitionCount == 3,
      s"expected 3 pruned partitions, got ${scans.head.selectedPartitions.partitionCount}")
  }

  test("batch probe: parity with per-query probes, one cells scan") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val dir = "/root/testdata/sf0.01"
    val path = java.nio.file.Files.createTempDirectory("ivfbatch").toString + "/idx"
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val cents = graft.operators.Ivf.centroids(v, "label", "e").localCheckpoint()
    val index = graft.operators.Ivf.assign(v, cents, "vec_id", "e", "label")
      .localCheckpoint()
    graft.operators.Ivf.writeIndex(index, cents, "label", path)

    val qIds = Seq(0L, 1L, 2L, 3L)
    val queries = v.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("e").as("q"))
      .localCheckpoint()
    val batch = graft.operators.Ivf.probeIndexedBatch(spark, path, queries,
      "vec_id", "e", "label", nprobe = 3, k = 10)

    // parity: each query's batch rows == its single-query probe
    val got = batch.select("query_id", "vec_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    qIds.foreach { qid =>
      val single = graft.operators.Ivf.probeIndexed(spark, path,
          queries.filter(col("query_id") === qid).select("q"),
          "vec_id", "e", "label", nprobe = 3, k = 10)
        .select("vec_id").as[Long].collect().toSet
      assert(got(qid) == single,
        s"query $qid: batch=${got(qid)} single=$single")
    }

    // one pruned scan of the cells table serves the whole batch
    val scans = batch.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata("Location").contains("cells") => s
    }
    assert(scans.size == 1, s"expected exactly one cells scan, got ${scans.size}")
    assert(scans.head.metadata("PartitionFilters").contains("label"),
      scans.head.metadata("PartitionFilters"))
  }

  test("Lloyd refinement recovers true clusters from a bad seed") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    // Two tight clusters around (1,0) and (0,1), but the SEED cells
    // are scrambled; one refinement round must re-separate them.
    val v = Seq(
      (1L, 0, Seq(1.0, 0.01)), (2L, 1, Seq(1.0, -0.01)), (3L, 0, Seq(0.98, 0.02)),
      (4L, 1, Seq(0.01, 1.0)), (5L, 0, Seq(-0.01, 1.0)), (6L, 1, Seq(0.02, 0.97))
    ).toDF("vec_id", "label", "e0")
      .select(col("vec_id"), col("label"), normalize(col("e0")).as("e"))
    val (index, cents) = graft.operators.Ivf.refine(v, "vec_id", "e", "label", rounds = 2)
    assert(cents.count() <= 2)
    val cells = index.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(cells(1L) == cells(2L) && cells(2L) == cells(3L), s"x-cluster split: $cells")
    assert(cells(4L) == cells(5L) && cells(5L) == cells(6L), s"y-cluster split: $cells")
    assert(cells(1L) != cells(4L), s"clusters merged: $cells")
  }

  test("appendToIndex: fixed-centroid delta lands batch=N; replay idempotent; base untouched") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val dir = "/root/testdata/sf0.01"
    val path = java.nio.file.Files.createTempDirectory("ivfapp").toString + "/idx"
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val base = v.filter(col("vec_id") % 4 =!= 0)
    val delta = v.filter(col("vec_id") % 4 === 0 && col("vec_id") =!= 0)
    val cents = graft.operators.Ivf.centroids(base, "label", "e").localCheckpoint()
    val baseIdx = graft.operators.Ivf.assign(base, cents, "vec_id", "e", "label")
      .localCheckpoint()
    graft.operators.Ivf.writeIndex(baseIdx, cents, "label", path)

    graft.operators.Ivf.appendToIndex(spark, path, delta, "vec_id", "e", "label", 1L)
    // parity: the on-disk probe over base+delta == the in-memory probe
    // over base ∪ assign(delta, SAME centroids)
    val query = v.filter(col("vec_id") === 0).select(col("e").as("q"))
    val memIdx = baseIdx.unionByName(
      graft.operators.Ivf.assign(delta, cents, "vec_id", "e", "label"))
    val mem = graft.operators.Ivf.probe(memIdx, cents, query,
      "vec_id", "e", "label", nprobe = 3, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val persisted = graft.operators.Ivf.probeIndexed(spark, path, query,
      "vec_id", "e", "label", nprobe = 3, k = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(persisted == mem, s"persisted $persisted vs mem $mem")
    assert(persisted.exists(id => id % 4 == 0),
      "appended vectors must be probe-visible (delta contains near dups of the query)")

    // replay: deterministic assignment → same (batch, cell) partitions
    // → dynamic overwrite replaces exactly itself
    val before = spark.read.parquet(s"$path/cells")
      .groupBy("batch").count().as[(Long, Long)].collect().toMap
    graft.operators.Ivf.appendToIndex(spark, path, delta, "vec_id", "e", "label", 1L)
    val after = spark.read.parquet(s"$path/cells")
      .groupBy("batch").count().as[(Long, Long)].collect().toMap
    assert(after == before, s"replay changed the index: $before -> $after")
    assert(after.keySet == Set(0L, 1L), s"expected base+one batch, got $after")

    // staleness signal: every (batch, cell) accounted for
    val fill = graft.operators.Ivf.cellFill(spark, path, "label")
      .as[(Long, Int, Long)].collect()
    assert(fill.map(_._3).sum == before.values.sum)
    assert(fill.exists(_._1 == 1L), "appended batch must show in cellFill")

    // a legacy single-level index (bare cell dirs) must be REJECTED:
    // appending batch=N beside them would mix partition depths and
    // break every subsequent read of the index
    val legacy = java.nio.file.Files.createTempDirectory("ivflegacy").toString + "/idx"
    baseIdx.repartition(col("label"))
      .write.partitionBy("label").parquet(s"$legacy/cells")
    cents.coalesce(1).write.parquet(s"$legacy/centroids")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Ivf.appendToIndex(spark, legacy, delta,
        "vec_id", "e", "label", 1L)
    }
    assert(e.getMessage.contains("single-level layout"), e.getMessage)
  }

  test("streaming embedding dedup: probe-then-append converges to the one-shot pairs") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val dir = "/root/testdata/sf0.01"
    val root = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val path = s"$root/idx"
    val pairsPath = s"$root/pairs"
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val base = v.filter(col("vec_id") % 4 =!= 0)
    val cents = graft.operators.Ivf.centroids(base, "label", "e").localCheckpoint()
    graft.operators.Ivf.writeIndex(
      graft.operators.Ivf.assign(base, cents, "vec_id", "e", "label"),
      cents, "label", path)
    // the delta arrives as a stream of vec ids, two micro-batches
    val vecOf = v.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "label", "e").as[(Long, Int, Seq[Double])]
      .collect().map(t => t._1 -> t).toMap
    val deltaIds = vecOf.keys.toSeq.sorted
    val (half1, half2) = deltaIds.splitAt(deltaIds.length / 2)
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("vec_id").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val withVec = batch.as[Long].collect().toSeq.map(vecOf)
          .toDF("vec_id", "label", "e")
        // probe against everything indexed SO FAR (idempotent pairs
        // landing: a replayed foreachBatch overwrites its own dir),
        // then join the index — the D11 scaladoc loop, executable
        graft.operators.Ivf.nearDupProbe(spark, path, withVec,
            "vec_id", "e", "label", 0.3)
          .write.mode("overwrite").parquet(s"$pairsPath/batch=$id")
        graft.operators.Ivf.appendToIndex(spark, path, withVec,
          "vec_id", "e", "label", id + 1)
      }
      .start()
    try {
      input.addData(half1: _*); q.processAllAvailable()
      input.addData(half2: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(pairsPath)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // one-shot expected: same-cell pairs under the STORED centroids
      // across base ∪ delta, restricted to delta-touching
      val allAssigned = graft.operators.Ivf.assign(
        v, cents, "vec_id", "e", "label").localCheckpoint()
      val expected = allAssigned.as("a")
        .join(allAssigned.as("b"),
          expr("a.label = b.label AND a.vec_id < b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(dot(col("a.e"), col("b.e")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == expected,
        s"missing=${(expected -- streamed).take(5)} extra=${(streamed -- expected).take(5)}")
    } finally q.stop()
  }

  test("centroids are unit vectors and assignment covers every row") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val v = Seq(
      (1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(0.9, 0.1)),
      (3L, 1, Seq(0.0, 1.0)), (4L, 1, Seq(0.1, 0.9))
    ).toDF("vec_id", "label", "e0")
      .select(col("vec_id"), col("label"), normalize(col("e0")).as("e"))
    val cents = graft.operators.Ivf.centroids(v, "label", "e")
    val norms = cents.select(round(norm(col("centroid")), 9).as("n")).as[Double].collect()
    assert(norms.forall(_ == 1.0), s"centroids must be unit: ${norms.toSeq}")
    val assigned = graft.operators.Ivf.assign(v, cents, "vec_id", "e", "label")
    assert(assigned.count() == 4)
    val m = assigned.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(m(1L) == 0 && m(2L) == 0 && m(3L) == 1 && m(4L) == 1)
  }
}
