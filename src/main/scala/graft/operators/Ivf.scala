package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbor: partition the
  * corpus into coarse cells, search only the query's nearest
  * `nprobe` cells — the FAISS IVF-Flat shape on DataFrames.
  *
  * Cells here are seeded from an existing coarse key (a cluster
  * label, a category, a shard) and refined to actual centroids by
  * element-wise mean; a k-means loop would iterate [[assign]] +
  * [[centroids]] to convergence with the same two primitives.
  *
  * Scale: the centroid table is tiny (cells × dim) → every centroid
  * comparison is a broadcast; the corpus shuffles once on cell id at
  * index build, and a probe touches nprobe/cells of the data. That
  * fraction — not the corpus size — is the query cost at 100 TB.
  */
object Ivf {

  /** Element-wise mean per cell via the native [[vecSum]] aggregate:
    * ONE exchange carrying one partial-sum row per (partition, cell)
    * — map-side combine over dense arrays — where a posexplode
    * formulation shuffles n×d element rows through two exchanges. */
  def centroids(v: DataFrame, cellCol: String, vecCol: String): DataFrame =
    v.groupBy(col(cellCol))
      .agg(vecSum(col(vecCol)).as("__s"), count(lit(1)).as("__n"))
      .select(col(cellCol),
        normalize(transform(col("__s"), x => x / col("__n"))).as("centroid"))

  /** Assign every vector to its highest-cosine centroid (vectors must
    * be unit-normalized; ties break on the greater cell id for
    * determinism). Returns (idCol, vecCol, cellCol); the original seed
    * cell is REPLACED by the refined one.
    *
    * max_by over the |corpus|×|cells| crossJoin gets map-side partial
    * aggregation — the shuffle carries one row per vector, not per
    * (vector, cell), which is the |cells|× difference a window-rank
    * formulation would pay at scale. */
  def assign(v: DataFrame, cents: DataFrame, idCol: String, vecCol: String,
      cellCol: String): DataFrame = {
    val c = cents.withColumnRenamed(cellCol, "__cell")
    v.drop(cellCol)
      .crossJoin(broadcast(c))
      .withColumn("__sim", dot(col(vecCol), col("centroid")))
      .groupBy(idCol)
      .agg(max_by(
        struct(col(vecCol), col("__cell")),
        struct(col("__sim"), col("__cell"))).as("__best"))
      .select(col(idCol),
        col(s"__best.$vecCol").as(vecCol),
        col("__best.__cell").as(cellCol))
  }

  /** Lloyd refinement: alternate [[centroids]] / [[assign]] from the
    * seed cells. Spherical k-means on DataFrames — each round is one
    * narrow centroid aggregate + one broadcast re-assignment.
    * Quantization error (mean cosine to own centroid) is
    * non-decreasing per round; a handful of rounds is standard for
    * IVF index builds. Returns (index, cents).
    *
    * Only the LAST round materializes (one checkpoint for the index,
    * one pass over it for the final centroids): intermediate rounds
    * stay lazy — each round re-assigns from `v` (which the caller
    * holds materialized), so the lineage is a linear ~3·rounds-
    * exchange chain, trivially planned for the handful of rounds an
    * index build runs, and we pay rounds× fewer materialization jobs
    * than a checkpoint-per-round loop. */
  def refine(v: DataFrame, idCol: String, vecCol: String, cellCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    var index = v
    var cents = centroids(index, cellCol, vecCol)
    for (i <- 0 until rounds) {
      index = assign(v, cents, idCol, vecCol, cellCol)
      if (i == rounds - 1) index = Barrier.materialize(index)._1
      cents = centroids(index, cellCol, vecCol)
    }
    (index, Barrier.materialize(cents)._1)
  }

  /** Persists a built index CELL-PARTITIONED (`cells/<cellCol>=…`
    * directories + a single-file centroid table): the production
    * build-once/probe-many layout. Because the corpus lands one
    * directory per cell, a probe becomes a PARTITION-PRUNED read —
    * nprobe directories opened, the rest of the 100-TB index never
    * listed, which is the file-level analogue of the in-memory
    * cell filter. */
  def writeIndex(index: DataFrame, cents: DataFrame, cellCol: String,
      path: String): Unit = {
    // a REBUILD invalidates any radius stats from the previous index
    // generation, and the batch-count staleness check cannot see a
    // rebuild (both generations may have one batch) — delete them so
    // a range probe fails LOUDLY (missing cellstats) instead of
    // silently pruning with the old generation's radii. Deleted FIRST
    // (review finding): stats double as the build-complete marker for
    // build-if-missing callers, so a rebuild that crashes mid-cells
    // overwrite must not leave the old generation's marker pointing
    // at torn cells.
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/cellstats")
    statsPath.getFileSystem(index.sparkSession.sparkContext.hadoopConfiguration)
      .delete(statsPath, true)
    // repartition by cell so writer tasks line up with cell
    // directories — few large files per cell instead of tasks×cells
    // small ones (the small-files problem at index-build scale).
    // batch=0 is the trained base; [[appendToIndex]] lands deltas as
    // batch=N siblings — a uniform two-level layout, because parquet
    // partition discovery rejects mixed directory depths
    index.withColumn("batch", lit(0L)).repartition(col(cellCol))
      .write.partitionBy("batch", cellCol).mode("overwrite")
      .parquet(s"$path/cells")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Appends a delta of vectors to a persisted index WITHOUT
    * re-training: assignment runs against the STORED centroids
    * (broadcast — the delta never shuffles), and the rows land under
    * `batch=<batchId>/<cell>=…` next to the trained base. This is the
    * between-rebuilds discipline every production ANN system runs —
    * re-clustering the corpus per delta is a full-corpus k-means at
    * 100 TB, while append-assign touches delta-sized data only.
    *
    * Replay-idempotent by layout, like [[MinhashDelta.writeBatch]]:
    * assignment against fixed centroids is deterministic, so a
    * replayed batch produces the same (batch, cell) partitions and
    * dynamic partition overwrite replaces exactly them — the trained
    * base and other batches are never touched.
    *
    * Probes need no changes: cell pruning applies across batch dirs
    * (the partition filter is on the cell column), so a probe reads
    * nprobe cells of base + every appended batch.
    *
    * The caveat that makes [[refine]]+[[writeIndex]] the periodic
    * companion: centroids drift as the distribution shifts — appended
    * vectors may sit farther from their (stale) centroid, degrading
    * recall at fixed nprobe. Monitor with [[cellFill]]; re-train and
    * rewrite when appended mass dominates. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      delta: DataFrame, idCol: String, vecCol: String, cellCol: String,
      batchId: Long): Unit = {
    require(batchId > 0L, s"batch 0 is the trained base, got $batchId")
    requireBatchLayout(spark, path)
    val cents = spark.read.parquet(s"$path/centroids")
    assign(delta, cents, idCol, vecCol, cellCol)
      .withColumn("batch", lit(batchId))
      .repartition(col(cellCol))
      .write.partitionBy("batch", cellCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/cells")
  }

  /** Near-dup pairs of a delta against a persisted index — the
    * embedding side of [[MinhashDelta.incrementalPairs]], served by
    * the index instead of a corpus rescan: the delta is assigned to
    * the STORED centroids (broadcast), the cells scan carries a
    * literal partition filter over the delta's cells (file listing
    * prunes everything else), and the delta broadcasts into the
    * per-cell cosine join — the index never shuffles. Contract: delta
    * ids are disjoint from indexed ids; `distinct` absorbs duplicate
    * index rows from replayed appends. Pairs are (id_a < id_b,
    * cos_sim >= threshold). Streaming: foreachBatch { nearDupProbe →
    * land pairs under batch=N → [[appendToIndex]] } — each pair found
    * exactly once, when its later member arrives. */
  def nearDupProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      delta: DataFrame, idCol: String, vecCol: String, cellCol: String,
      threshold: Double): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val d = Barrier.materialize(assign(delta, cents, idCol, vecCol, cellCol))._1
    val cells = d.select(col(cellCol)).distinct().collect().map(_.get(0))
    val oldNew = spark.read.parquet(s"$path/cells").as("i")
      .filter(col(cellCol).isin(cells.toIndexedSeq: _*))
      .join(broadcast(d).as("d"),
        expr(s"i.$cellCol = d.$cellCol AND i.$idCol <> d.$idCol"))
      .select(
        least(col(s"i.$idCol"), col(s"d.$idCol")).as("id_a"),
        greatest(col(s"i.$idCol"), col(s"d.$idCol")).as("id_b"),
        round(dot(col(s"i.$vecCol"), col(s"d.$vecCol")), 6).as("cos_sim"))
    // within-delta pairs: both members arrive in the SAME batch, so
    // neither is indexed yet when the probe runs — the self-join is
    // what makes "each pair found exactly once" hold across any
    // batch split (the MinhashDelta.pairsFromBands structure)
    val self = d.as("a")
      .join(d.as("b"), expr(s"a.$cellCol = b.$cellCol AND a.$idCol < b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(dot(col(s"a.$vecCol"), col(s"b.$vecCol")), 6).as("cos_sim"))
    oldNew.unionAll(self)
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /** Fail fast on an index persisted by the pre-batch single-level
    * layout (cells/<cell>=… with no batch dirs): appending batch=N
    * next to bare cell dirs creates mixed partition depths, which
    * parquet partition discovery rejects — the append would succeed
    * and every subsequent read of the index would throw. Shared by
    * [[appendToIndex]] and [[IvfPq.appendToIndex]]. */
  private[operators] def requireBatchLayout(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val cellsRoot = new org.apache.hadoop.fs.Path(s"$path/cells")
    val fs = cellsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = fs.listStatus(cellsRoot)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("batch="))
    require(legacy.isEmpty,
      s"index at $path uses the single-level layout (${legacy.take(3).mkString(", ")}…); " +
        "rewrite it with writeIndex before appending")
  }

  /** Rows per (batch, cell) — the staleness signal for
    * [[appendToIndex]]: when appended batches carry a large share of
    * a cell's rows, the fixed centroids no longer describe the data
    * and a [[refine]]+[[writeIndex]] re-train is due. Driver-sized
    * output (batches × cells), computed from partition metadata and
    * parquet counts only. */
  def cellFill(spark: org.apache.spark.sql.SparkSession, path: String,
      cellCol: String): DataFrame =
    spark.read.parquet(s"$path/cells")
      .groupBy(col("batch"), col(cellCol)).count()

  /** Persist the per-cell max-radius stats [[rangeProbe]] needs,
    * next to a [[writeIndex]] index (`cellstats/`): (cell, r,
    * n_batches), where n_batches records how many `batch=` partitions
    * the stats cover. One full index pass at build/refresh time —
    * the production trade: radius queries then prune at FILE level
    * forever after. MUST be re-run after [[appendToIndex]]: appended
    * vectors can exceed a cell's stored radius, which would break
    * the exactness bound — [[rangeProbeIndexed]] refuses stale stats
    * by comparing batch counts rather than silently missing rows. */
  def writeCellStats(spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String, cellCol: String): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
    val idx = spark.read.parquet(s"$path/cells")
    val nBatches = idx.select("batch").distinct().count()
    idx.join(broadcast(cents), cellCol)
      .groupBy(cellCol)
      .agg(max(sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * dot(col(vecCol), col("centroid"))))).as("r"))
      .withColumn("n_batches", lit(nBatches))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cellstats")
  }

  /** The shared stale-stats refusal of [[rangeProbeIndexed]] /
    * [[rangeProbeIndexedBatch]]: returns the stats frame or throws.
    * Catches [[appendToIndex]] without a stats refresh (batch counts
    * diverge) and a [[writeIndex]] rebuild (which deletes the stats
    * — the read fails loudly on the missing path). The one hole left
    * by design: replaying an EXISTING batchId with DIFFERENT vectors
    * — that violates appendToIndex's replay-idempotence contract
    * itself, which stats cannot be expected to police. */
  private def requireFreshStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val stats = spark.read.parquet(s"$path/cellstats")
    val head = stats.agg(max("n_batches")).head
    if (head.isNullAt(0))
      throw new IllegalStateException(
        s"cellstats at $path are empty — run writeCellStats")
    val covered = head.getLong(0)
    val present = spark.read.parquet(s"$path/cells")
      .select("batch").distinct().count()
    if (covered != present)
      throw new IllegalStateException(
        s"cellstats at $path cover $covered batches but the index has " +
          s"$present — run writeCellStats after appendToIndex or the " +
          "radius bound loses appended rows")
    stats
  }

  /** [[rangeProbe]] against a persisted index: the surviving-cell set
    * is decided from the tiny centroid+stats tables and collected
    * driver-side (control-plane metadata, like any partition
    * predicate), so the cells scan carries a LITERAL partition filter
    * and the excluded cells' files are never listed — the file-level
    * form of the triangle-bound guarantee, still returning EXACTLY
    * the brute-force radius result. Throws if [[appendToIndex]] ran
    * after the last [[writeCellStats]] (stale radii would silently
    * lose appended rows — refusal is the only exact option; a
    * [[writeIndex]] rebuild deletes the stats, so a probe against a
    * rebuilt-but-unrefreshed index fails loudly too). `query` must
    * be a SINGLE-ROW DataFrame (the [[probe]] contract): a multi-row
    * query cross-joins every row into the scan and duplicates
    * results without attribution — use [[rangeProbeIndexedBatch]]
    * for query sets. */
  def rangeProbeIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, query: DataFrame, idCol: String, vecCol: String,
      cellCol: String, minCos: Double, qCol: String = "q"): DataFrame =
    rangeProbeWithFrames(rangeProbeFrames(spark, path), query,
      idCol, vecCol, cellCol, minCos, qCol)

  /** Freshness-checked index frames for REPEATED radius probes against
    * ONE immutable index state — the τ-ladder shape
    * (q_hybrid_search_indexed probes up to three rungs): the staleness
    * check (two actions) and the three parquet relation resolutions
    * (directory listing + footer each) run ONCE here instead of per
    * probe. Same refusal contract as [[rangeProbeIndexed]]; callers
    * must not append to the index while holding the frames. The
    * constructor is private (r12 ADVICE): a caller-built instance from
    * raw frames would reach [[rangeProbeWithFrames]] without ever
    * passing [[requireFreshStats]]'s refusal check —
    * [[rangeProbeFrames]] is the only way to obtain one. */
  final case class RangeProbeFrames private[Ivf] (stats: DataFrame,
      cents: DataFrame, cells: DataFrame)

  def rangeProbeFrames(spark: org.apache.spark.sql.SparkSession,
      path: String): RangeProbeFrames =
    RangeProbeFrames(requireFreshStats(spark, path),
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/cells"))

  /** [[rangeProbeIndexed]] over pre-resolved [[RangeProbeFrames]] —
    * identical plan and result, minus the per-probe metadata cost. */
  def rangeProbeWithFrames(f: RangeProbeFrames, query: DataFrame,
      idCol: String, vecCol: String, cellCol: String, minCos: Double,
      qCol: String = "q"): DataFrame = {
    val t = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCos))
    val surviving = f.cents.join(f.stats, cellCol)
      .crossJoin(broadcast(query))
      .filter(sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * dot(col("centroid"), col(qCol)))) -
        col("r") <= lit(t + 1e-9))
      .select(col(cellCol)).collect().map(_.get(0))
    f.cells
      .filter(col(cellCol).isin(surviving.toIndexedSeq: _*))
      .crossJoin(broadcast(query))
      .withColumn("__cos", dot(col(vecCol), col(qCol)))
      .filter(col("__cos") >= minCos)
      .select(col(idCol), round(col("__cos"), 6).as("cos_sim"))
  }

  /** Batch form of [[rangeProbeIndexed]]: every (query, id) pair with
    * cos ≥ `minCos` for a whole query SET in one pass — the offline
    * shape (labeling a corpus against a reference set, contamination
    * radius scans) where per-query round-trips would dominate. Same
    * exactness contract and stale-stats refusal as the single-query
    * form; the cells scan runs ONCE with a literal partition filter
    * over the UNION of every query's surviving cells (distinct cell
    * ids collected driver-side — bounded by |cells|, not |queries|),
    * then candidates join the (query, cell) pairs — auto-broadcast
    * while the batch fits the threshold, a cell-keyed shuffle join
    * when it doesn't (the pairs frame is |queries|×|surviving cells|
    * rows of full vectors, so forcing broadcast would cap the batch
    * size). Nothing scales with |queries|×|corpus| except the
    * surviving-cell candidate set itself. */
  def rangeProbeIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      cellCol: String, minCos: Double, qIdCol: String = "query_id",
      qCol: String = "q"): DataFrame = {
    val stats = requireFreshStats(spark, path)
    val cents = spark.read.parquet(s"$path/centroids")
    val t = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCos))
    // consumed twice: cell-id union + candidate join
    val qCells = Barrier.materialize(queries.crossJoin(broadcast(cents.join(stats, cellCol)))
      .filter(sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * dot(col("centroid"), col(qCol)))) -
        col("r") <= lit(t + 1e-9))
      .select(col(qIdCol), col(qCol), col(cellCol)))._1
    val survivingCells = qCells.select(cellCol).distinct().collect().map(_.get(0))
    // No forced broadcast() on the candidate join: qCells holds up to
    // |queries| × |surviving cells| rows EACH carrying the full query
    // vector, so a large query set (or wide vectors) can blow past the
    // 8 GB broadcast limit / driver heap (r9 advice). The checkpoint
    // gives Catalyst/AQE exact size stats — a small batch still
    // auto-broadcasts under the threshold; a huge one degrades to a
    // cell-keyed shuffle join, which is the correct plan there.
    spark.read.parquet(s"$path/cells")
      .filter(col(cellCol).isin(survivingCells.toIndexedSeq: _*))
      .join(qCells, cellCol)
      .withColumn("__cos", dot(col(vecCol), col(qCol)))
      .filter(col("__cos") >= minCos)
      .select(col(qIdCol), col(idCol), round(col("__cos"), 6).as("cos_sim"))
  }

  /** Probe a [[writeIndex]]-persisted index. Centroid ranking runs on
    * the (tiny) centroid table and the winning `nprobe` cell ids are
    * collected driver-side — control-plane metadata, like any
    * partition predicate — so the cells scan carries a LITERAL
    * partition filter and prunes statically at file listing. */
  def probeIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      query: DataFrame, idCol: String, vecCol: String, cellCol: String,
      nprobe: Int, k: Int, qCol: String = "q"): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val qCells = query.crossJoin(broadcast(cents))
      .withColumn("__sim", dot(col(qCol), col("centroid")))
      .orderBy(col("__sim").desc, col(cellCol)).limit(nprobe)
      .select(col(cellCol)).collect().map(_.get(0))
    spark.read.parquet(s"$path/cells")
      .filter(col(cellCol).isin(qCells.toIndexedSeq: _*))
      .crossJoin(broadcast(query))
      .select(col(idCol), col(cellCol),
        round(dot(col(vecCol), col(qCol)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol)).limit(k)
  }

  /** Batch probe of a [[writeIndex]]-persisted index: top-k for a
    * whole query SET in one pass — the offline shape (retrieval
    * indexing, embedding dedup) where per-query [[probeIndexed]]
    * round-trips would dominate.
    *
    * Shape: per-query cell ranking is a broadcast of the tiny
    * centroid table + one WindowGroupLimit top-nprobe (map-side
    * partial top-k, no full sort); the cells scan runs ONCE with a
    * literal partition filter over the UNION of every query's probed
    * cells (distinct cell ids collected driver-side — control-plane
    * metadata bounded by |cells|, not |queries|); candidate scoring
    * is a broadcast hash join of the pruned scan against the
    * (query, cell) pairs; the final per-query top-k is again
    * WindowGroupLimit. Nothing scales with |queries|×|corpus| except
    * the probed-cell candidate set itself — the IVF contract. */
  def probeIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      cellCol: String, nprobe: Int, k: Int, qIdCol: String = "query_id",
      qCol: String = "q"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = spark.read.parquet(s"$path/centroids")
    // consumed twice: cell-id union + candidate join
    val qCells = Barrier.materialize(queries.crossJoin(broadcast(cents))
      .withColumn("__sim", dot(col(qCol), col("centroid")))
      .withColumn("__r", row_number().over(
        Window.partitionBy(qIdCol).orderBy(col("__sim").desc, col(cellCol))))
      .filter(col("__r") <= nprobe)
      .select(col(qIdCol), col(qCol), col(cellCol)))._1
    val probedCells = qCells.select(cellCol).distinct().collect().map(_.get(0))
    // Same no-forced-broadcast reasoning as [[rangeProbeIndexedBatch]]:
    // qCells is |queries| × nprobe rows of full query vectors — AQE
    // broadcasts it while it fits and shuffles by cell when it doesn't.
    spark.read.parquet(s"$path/cells")
      .filter(col(cellCol).isin(probedCells.toIndexedSeq: _*))
      .join(qCells, cellCol)
      .select(col(qIdCol), col(idCol), col(cellCol),
        round(dot(col(vecCol), col(qCol)), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(qIdCol).orderBy(col("cos_sim").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** EXACT radius (range) search: every vector with
    * cos(q, x) ≥ `minCos`, found by scanning only the cells the
    * TRIANGLE BOUND cannot exclude — the IVF analogue of a range
    * query. All vectors and [[centroids]] outputs are unit-norm, so
    * every L2 distance is derivable from one dot product
    * (d = √(2 − 2·cos)) and the bound is:
    *
    *   d(q, x) ≥ d(q, c) − d(x, c) ≥ d(q, c) − r_c
    *
    * with r_c = max_{x∈cell} d(x, c) (one index pass, stored with
    * the cell in production). A cell with d(q, c) − r_c > √(2 − 2·minCos)
    * can contain NO qualifying vector, so skipping it never loses a
    * result — the output equals brute force exactly (DuckDB-oracled
    * in the registry row; a 1e-9 slack absorbs FP rounding in the
    * bound itself, never excluding a boundary cell). Effectiveness
    * is data-dependent: high-dimensional uniform corpora have every
    * cell radius ≈ the sphere diameter and prune nothing (measured,
    * documented in the registry row), while clustered corpora — the
    * shape a trained IVF is FOR — prune most cells (IvfRangeSpec
    * pins both regimes). Probe cost: |cells| bound evaluations +
    * the surviving cells' rows. Like [[probe]], `query` must be a
    * SINGLE-ROW DataFrame (column `qCol`): a multi-row query
    * cross-joins every row into the scan and duplicates results
    * without attribution. */
  def rangeProbe(index: DataFrame, cents: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      minCos: Double, qCol: String = "q"): DataFrame = {
    val t = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCos))
    def dist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * dot(a, b)))
    val stats = index.join(broadcast(cents), cellCol)
      .groupBy(cellCol)
      .agg(max(dist(col(vecCol), col("centroid"))).as("__r"))
    val qCells = cents.join(broadcast(stats), cellCol)
      .crossJoin(broadcast(query))
      .filter(dist(col("centroid"), col(qCol)) - col("__r") <= lit(t + 1e-9))
      .select(col(cellCol))
    index.join(broadcast(qCells), cellCol)
      .crossJoin(broadcast(query))
      .withColumn("__cos", dot(col(vecCol), col(qCol)))
      .filter(col("__cos") >= minCos)
      .select(col(idCol), round(col("__cos"), 6).as("cos_sim"))
  }

  /** Top-k by cosine for one query vector, searching only its
    * `nprobe` nearest cells. `index` must carry (idCol, vecCol,
    * cellCol) with unit-normalized vectors — build it once via
    * [[centroids]] + [[assign]] and reuse across queries.
    *
    * `query` must be a SINGLE-ROW DataFrame whose unit-normalized
    * query vector lives in column `qCol` (default "q") — a multi-row
    * query would cross-join every row into the probe and interleave
    * the top-k. */
  def probe(index: DataFrame, cents: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      nprobe: Int, k: Int, qCol: String = "q"): DataFrame = {
    val qCells = query.crossJoin(broadcast(cents))
      .withColumn("__sim", dot(col(qCol), col("centroid")))
      .orderBy(col("__sim").desc, col(cellCol)).limit(nprobe)
      .select(col(cellCol))
    index
      .join(broadcast(qCells), cellCol)
      .crossJoin(broadcast(query))
      .select(col(idCol), col(cellCol),
        round(dot(col(vecCol), col(qCol)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol)).limit(k)
  }
}
