package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Barrier

/** Scale-sensitivity sweep harness (not part of the library surface).
  *
  * `runMain graft.Sweep <srcSfDir> <workDir> <factor> <q1,q2,...>`
  *
  * Builds a `factor`-times replica of the source SF tables under
  * `workDir` (cached across runs), then times each named registry
  * query on it (noop sink, min of two). Replication offsets every
  * entity key (user/customer/order/doc/vec) by a copy-sized constant,
  * so the KEY COUNT grows by `factor` while per-key event density
  * stays flat — the shape a real 100-TB corpus has, and the one that
  * keeps per-key loops (funnel, sessionize) honest: duplicating ids
  * instead would multiply per-key density and measure a skew
  * pathology, not scale.
  *
  * `ann_ivfpq_probe` is special-cased: the index is built once
  * (untimed) and only the probe path is measured — the production
  * shape, build-once/probe-many.
  */
object Sweep {

  // key offset per copy: far above the organic sf ids (validated per
  // table below), but small enough that a ×10 replica's ids stay
  // inside the exact-bitmap chunk budget so dense-id reach queries
  // sweep too
  private val Off = 1L << 25

  private def scaleTable(spark: SparkSession, src: String, dst: String,
      name: String, factor: Int, keyCols: Seq[String],
      perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
    val out = s"$dst/$name.parquet"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(out))) return
    val base = graft.sources.ViewingData.table(spark, src, name)
    // replica keys must stay disjoint across copies or the sweep
    // silently measures per-key density (a skew pathology), not scale
    keyCols.foreach { c =>
      val mx = base.agg(max(col(c))).head.getLong(0)
      require(mx < Off,
        s"scaleTable($name): max($c)=$mx >= copy offset $Off — raise Off")
    }
    val copies = (0 until factor).map { k =>
      perCopy(keyCols.foldLeft(base) { (df, c) =>
        df.withColumn(c, col(c) + lit(k * Off))
      }, k)
    }
    copies.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(out)
  }

  private def scaleUp(spark: SparkSession, src: String, dst: String,
      factor: Int, verbatimDocs: Boolean): Unit = {
    // replicas are cached in dst — a marker pins the parameters that
    // shaped them, so a re-run with a different factor or doc mode
    // rebuilds instead of silently timing stale data under a new label
    val marker = new org.apache.hadoop.fs.Path(dst, "_SWEEP_META")
    val meta = s"src=$src factor=$factor verbatimDocs=$verbatimDocs"
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val prev = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      if (prev != meta) {
        fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      }
    }
    if (!fs.exists(marker)) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(dst))
      val outS = fs.create(marker, true)
      try outS.write(meta.getBytes("UTF-8")) finally outS.close()
    }
    // entity keys offset consistently so every cross-table join still
    // lands (events.user_id ↔ customer.c_custkey ↔ orders.o_custkey)
    scaleTable(spark, src, dst, "events", factor, Seq("event_id", "user_id"))
    scaleTable(spark, src, dst, "customer", factor, Seq("c_custkey"))
    scaleTable(spark, src, dst, "orders", factor, Seq("o_orderkey", "o_custkey"))
    // organic mode perturbs each copy's n_chars so replicas land in
    // distinct (lang, n_chars) near-dup buckets: duplicate-cluster
    // sizes stay constant as the corpus grows (how a real corpus
    // scales). verbatim mode keeps exact copies: every doc becomes a
    // factor-way duplicate clique — the adversarial dedup density.
    scaleTable(spark, src, dst, "documents", factor, Seq("doc_id"),
      perCopy = if (verbatimDocs) (df, _) => df
        else (df, k) => df.withColumn("n_chars", col("n_chars") + lit(k)))
    scaleTable(spark, src, dst, "embeddings", factor, Seq("vec_id"))
    scaleTable(spark, src, dst, "lineitem", factor, Seq("l_orderkey"))
    // enum-like dimensions stay 1x: their fk values are unchanged
    Seq("region", "nation", "supplier", "part")
      .foreach(t => scaleTable(spark, src, dst, t, 1, Seq.empty))
  }

  private def minOfTwo(body: => Unit): Double = {
    def once: Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once, once)
  }

  /** The one documents projection every MinhashDelta sweep case
    * probes — a single definition so the cases can't drift apart. */
  private def sweepDocs(spark: SparkSession, work: String) =
    graft.sources.ViewingData.table(spark, work, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))

  private def compactIndexPath(work: String) = s"$work/mh_index_compact"

  /** The shared compacted-index build (3/4 corpus, one batch,
    * compacted): bulk-pruned and point-probe cases probe the SAME
    * index, so requesting both pays one build — probeCase's marker
    * makes the second call a no-op. */
  private def buildCompactIndex(spark: SparkSession, work: String,
      docs: org.apache.spark.sql.DataFrame): Unit = {
    val path = compactIndexPath(work)
    operators.MinhashDelta.writeBatch(
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", path, 0L)
    operators.MinhashDelta.compactIndex(spark, path)
  }

  /** Build-once/probe-many measurement: `build` runs untimed, once per
    * cached work dir — completion is recorded by a marker file NEXT TO
    * the index, so a run killed mid-build leaves no marker and the
    * next run rebuilds instead of silently probing a partial index —
    * then `probe` is timed min-of-two. */
  private def probeCase(spark: SparkSession, name: String, factor: Int,
      indexPath: String)(build: => Unit)(probe: => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(indexPath + "._READY")
    if (!fs.exists(marker)) {
      fs.delete(p, true) // partial leftovers from a crashed build
      build
      fs.create(marker, true).close()
    }
    val sec = minOfTwo(probe)
    println(f"SWEEP $name%-28s x$factor%-3d $sec%8.3f s")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val factor = args(2).toInt
    val names = args(3).split(",").toSeq
    val verbatimDocs = args.length > 4 && args(4) == "verbatim"
    val spark = SparkSession.builder().master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // driver heap comes from the launcher (SPARK_DRIVER_MEM -> sbt
      // -Xmx): setting spark.driver.memory after JVM start is a no-op
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    scaleUp(spark, src, work, factor, verbatimDocs)
    names.foreach {
      case "ann_ivfpq_probe" =>
        import spark.implicits._
        val v = Barrier.materialize(graft.sources.ViewingData.table(spark, work, "embeddings")
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("vec_id"), col("label"),
            graft.functions.VectorFunctions.normalize(
              graft.functions.VectorFunctions.toDouble(col("embedding"))).as("e")))._1
        val path = s"$work/ivfpq_index"
        val q = v.filter(col("vec_id") === 0).select("e").as[Seq[Double]].head()
        probeCase(spark, "ann_ivfpq_probe", factor, path) {
          operators.IvfPq.writeIndex(v, "vec_id", "e", "label", path,
            m = 16, k = 16, ivfRounds = 1, pqRounds = 2)
        } {
          operators.IvfPq.probe(spark, path, v.filter(col("vec_id") =!= 0), q,
            "vec_id", "e", "label", nprobe = 8, k = 10)
            .write.format("noop").mode("overwrite").save()
        }
      case "ann_range_batch_probe" =>
        // production shape of ann_range_search_batch: the IVF index +
        // per-cell radius stats EXIST (built once, untimed); measured
        // = the batch radius probe only — surviving-cell union,
        // file-pruned scan, candidate join, exact filter
        val v = Barrier.materialize(graft.sources.ViewingData.table(spark, work, "embeddings")
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("vec_id"), col("label"),
            graft.functions.VectorFunctions.normalize(
              graft.functions.VectorFunctions.toDouble(col("embedding"))).as("e")))._1
        val path = s"$work/ivfrange_index"
        val queries = Barrier.materialize(v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("e").as("q")))._1
        probeCase(spark, "ann_range_batch_probe", factor, path) {
          val cents = Barrier.materialize(operators.Ivf.centroids(v, "label", "e"))._1
          operators.Ivf.writeIndex(
            operators.Ivf.assign(v, cents, "vec_id", "e", "label"),
            cents, "label", path)
          operators.Ivf.writeCellStats(spark, path, "e", "label")
        } {
          operators.Ivf.rangeProbeIndexedBatch(spark, path, queries,
              "vec_id", "e", "label", minCos = 0.2)
            .filter(col("vec_id") =!= col("query_id"))
            .write.format("noop").mode("overwrite").save()
        }
      case "dedup_incremental_probe" =>
        // production shape: the corpus index EXISTS (built once,
        // untimed, persisted); only the delta's band build + the
        // index probe are measured — the registry query times the
        // corpus banding too, which a real increment never pays
        val docs = sweepDocs(spark, work)
        val path = s"$work/mh_index"
        probeCase(spark, "dedup_incremental_probe", factor, path) {
          operators.MinhashDelta.writeBatch(
            docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", path, 0L)
        } {
          operators.MinhashDelta.incrementalPairs(
              docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
              operators.MinhashDelta.readIndex(spark, path))
            .write.format("noop").mode("overwrite").save()
        }
      case "dedup_incremental_pruned" =>
        // the COMPACTED index: same probe as dedup_incremental_probe
        // but against a range-laid, manifest-indexed layout — measures
        // what driver-side file skipping buys a daily delta at scale
        // (compare the two SWEEP rows at the same factor)
        val docs = sweepDocs(spark, work)
        probeCase(spark, "dedup_incremental_pruned", factor,
            compactIndexPath(work)) {
          buildCompactIndex(spark, work, docs)
        } {
          operators.MinhashDelta.incrementalPairsPruned(spark,
              compactIndexPath(work),
              docs.filter(col("doc_id") % 4 === 0), "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
      case "dedup_icws_probe" =>
        // production increment for the WEIGHTED family: the standing
        // ICWS band index EXISTS (built once, untimed, persisted);
        // measured = delta draw chain + index probe + exact verify
        // restricted to candidate docs — the registry row re-draws
        // the corpus signatures too, which a real increment never pays
        val docs = Barrier.materialize(graft.sources.ViewingData.table(spark, work, "documents")
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text")))._1
        val path = s"$work/icws_index"
        probeCase(spark, "dedup_icws_probe", factor, path) {
          operators.IcwsDelta.writeBatch(
            docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", path, 0L)
        } {
          operators.IcwsDelta.verifyExact(docs,
              operators.IcwsDelta.incrementalCandidates(
                docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
                operators.IcwsDelta.readIndex(spark, path)),
              operators.IcwsDelta.Tau)
            .write.format("noop").mode("overwrite").save()
        }
      case "dedup_substring_probe" =>
        // production increment: the standing winnowing fingerprint
        // index EXISTS (built once, untimed, persisted); measured =
        // delta fingerprinting + the tagged bucket-fold probe — the
        // registry query re-fingerprints the corpus too, which a real
        // increment never pays
        val docs = sweepDocs(spark, work)
        val path = s"$work/win_index"
        // (k, w) taken from the registry rows' single definition so a
        // tuning there can't silently leave this measuring a
        // different workload
        probeCase(spark, "dedup_substring_probe", factor, path) {
          operators.Winnow.writeBatch(
            operators.Winnow.fingerprintsFast(
              docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text",
              QueriesCurate.K, QueriesCurate.W),
            path, 0L)
        } {
          operators.Winnow.incrementalPairs(
              operators.Winnow.readIndex(spark, path),
              operators.Winnow.fingerprintsFast(
                docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
                QueriesCurate.K, QueriesCurate.W),
              "doc_id", minShared = 2, maxDf = 64,
              absorbReplays = false) // %4 split disjoint by construction
            .write.format("noop").mode("overwrite").save()
        }
      case "dedup_point_probe" =>
        // ONLINE shape: one freshly-landed document asks "am I a
        // near-dup of anything in the corpus?". Band hashes are
        // uniform, so a BULK delta's hashes blanket every file range
        // and pruning is moot (see dedup_incremental_pruned); a point
        // probe carries 4 hashes and the manifest keeps the read to
        // ≤4 of the compacted files. Both rows probe the SAME
        // compacted index (shared with dedup_incremental_pruned's
        // cached build) — the delta is the only difference.
        val docs = sweepDocs(spark, work)
        val path = compactIndexPath(work)
        val one = Barrier.materialize(docs.orderBy("doc_id").limit(1))._1
        probeCase(spark, "dedup_point_full", factor, path) {
          buildCompactIndex(spark, work, docs)
        } {
          operators.MinhashDelta.incrementalPairs(one, "doc_id", "text",
              operators.MinhashDelta.readIndex(spark, path))
            .write.format("noop").mode("overwrite").save()
        }
        probeCase(spark, "dedup_point_pruned", factor, path) {
          buildCompactIndex(spark, work, docs)
        } {
          operators.MinhashDelta.incrementalPairsPruned(spark, path,
              one, "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
      case "corpus_prep_minhash" =>
        // corpus_prep_e2e with the pair stage swapped to D3's
        // minhash-LSH (the registry row keeps blocked-exact pairs for
        // its oracle): candidate volume tracks TRUE near-dup density,
        // so this is the curve a production corpus rides — compare
        // with corpus_prep_e2e at the same factor
        val sec = minOfTwo {
          QueriesLLM.corpusPrepFrom(spark, work,
              Barrier.materialize(QueriesML.minhashPairs(spark, work)
                .select("id_a", "id_b"))._1)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"SWEEP corpus_prep_minhash        x$factor%-3d $sec%8.3f s")
      case "pipeline_dag" =>
        // the flagship DAG MATERIALIZED stage by stage (TaskDag over
        // Pipeline.dailyDag — parquet between stages, the reference's
        // nightly shape): catches cross-stage effects the fused
        // q_audience_metrics row can't (checkpoint placement, stage
        // output sizes, write amplification). Timed END TO END incl.
        // the writes; fresh outDir per timing so overwrite cost is
        // uniform — and each dir (full parquet materializations of
        // every DAG stage) is deleted right after its timing, or
        // repeated large-factor sweeps accumulate disk.
        val made = scala.collection.mutable.ArrayBuffer.empty[String]
        val sec =
          try minOfTwo {
            val out = java.nio.file.Files.createTempDirectory("sweep-dag").toString
            made += out
            val res = operators.TaskDag.run(spark, Pipeline.dailyDag(work, out))
            require(res.forall(_.error.isEmpty),
              s"dag stage failed: ${res.filter(_.error.nonEmpty)}")
          } finally made.foreach { out =>
            // cleanup OUTSIDE the timed body — the timing measures the
            // DAG, not the teardown
            val p = new org.apache.hadoop.fs.Path(out)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          }
        println(f"SWEEP pipeline_dag               x$factor%-3d $sec%8.3f s")
      case "hybrid_dense_costed" =>
        // F28b economics with a COST-BEARING embedder (r11 verdict
        // #4): the registry pair shows wall-clock parity at sf0.1
        // because the md5 stand-in embeds the whole corpus in ~0.3 s;
        // a real encoder charges per document. CostedEmbedder bills a
        // deterministic LCG spin per text, and this pair isolates the
        // term that moves: the brute dense side re-embeds |corpus|
        // per query batch (grows with factor), the indexed side
        // re-embeds only the ladder-selected candidate set (flat).
        // The embed-once index build is untimed — build-once/
        // probe-many, the production shape; it embeds through the
        // UNcosted twin (bit-identical vectors), so both probes serve
        // from the same geometry.
        import graft.functions.VectorFunctions.dot
        val emb = operators.CostedEmbedder(8, spinPerDoc = 2000000)
        val docs = Barrier.materialize(sweepDocs(spark, work))._1
        val qv = emb.embed(Seq("table stream merge")).head.toSeq
        def denseTop20(d: DataFrame): DataFrame =
          operators.Embed.withEmbeddings(d, "text", "e", emb)
            .select(col("doc_id"), dot(col("e"), typedLit(qv)).as("cos"))
            .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
        val bruteSec = minOfTwo {
          denseTop20(docs).write.format("noop").mode("overwrite").save()
        }
        println(f"SWEEP hybrid_dense_brute_costed  x$factor%-3d $bruteSec%8.3f s")
        val hybPath = s"$work/hyb_ivf_index"
        probeCase(spark, "hybrid_dense_indexed_costed", factor, hybPath) {
          // orthant-seeded cells over the contract-embedded corpus —
          // the F28b build, driven through Embed.withEmbeddings
          val v = Barrier.materialize(operators.Embed.withEmbeddings(
              docs, "text", "e0", operators.HashEmbedder(8))
            .select(col("doc_id"), col("e0").as("e"))
            .withColumn("cell",
              (when(element_at(col("e"), 1) >= 0, 8).otherwise(0) +
                when(element_at(col("e"), 2) >= 0, 4).otherwise(0) +
                when(element_at(col("e"), 3) >= 0, 2).otherwise(0) +
                when(element_at(col("e"), 4) >= 0, 1).otherwise(0)).cast("int")))._1
          val cents = Barrier.materialize(operators.Ivf.centroids(v, "cell", "e"))._1
          operators.Ivf.writeIndex(
            operators.Ivf.assign(v, cents, "doc_id", "e", "cell"),
            cents, "cell", hybPath)
          operators.Ivf.writeCellStats(spark, hybPath, "e", "cell")
        } {
          // descending τ ladder (the F28b cost knob): tightest radius
          // whose candidate set can hold a top-20 wins; candidates
          // are then re-embedded through the COSTED embedder — the
          // only per-document charge on this path. Each rung counts its
          // candidates on its own barrier job
          val qdf = spark.range(1).select(typedLit(qv).as("q"))
          val cand = Seq(0.8, 0.5, 0.2).view.map { tau =>
            Barrier.materialize(operators.Ivf.rangeProbeIndexed(spark, hybPath, qdf,
                "doc_id", "e", "cell", minCos = tau)
              .select("doc_id"), count(lit(1)))
          }.find(_._2.getLong(0) >= 20)
          val base = cand match {
            case Some((ids, _)) =>
              docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
            case None => docs
          }
          denseTop20(base).write.format("noop").mode("overwrite").save()
        }
      case "dedup_prefix_capped" =>
        // the registry row's exact PPJoin with the maxDf stop-gram cap
        // engaged — compare with dedup_prefix_filter at the same
        // factor to read what the cap buys on a duplicate-densified
        // corpus (params mirror the registry row; cap = the winnow
        // path's df discipline)
        val docs = sweepDocs(spark, work)
        val sec = minOfTwo {
          operators.PrefixFilter.pairs(docs, "doc_id", "text",
              shingle = 3, tau = 0.5, maxDf = 64)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"SWEEP dedup_prefix_capped         x$factor%-3d $sec%8.3f s")
      case name =>
        val sec = minOfTwo {
          SparkEntry.queries(name)(spark, work)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"SWEEP $name%-28s x$factor%-3d $sec%8.3f s")
    }
    spark.stop()
  }
}
