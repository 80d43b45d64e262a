package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot

/** IVF-PQ — the FAISS production ANN index, composed from this
  * library's two halves: [[Ivf]] coarse cells (refined centroids,
  * cell-partitioned storage, directory-pruned probes) carrying [[Pq]]
  * codes instead of raw vectors.
  *
  * The codes are PQ-encoded RESIDUALS (x − centroid(cell)), the FAISS
  * IVF-PQ encoding: residuals are centered near zero so a shared
  * codebook spends its k codes on the intra-cell structure rather
  * than on cell offsets. Scoring splits exactly:
  *
  *   q·x ≈ q·c(cell) + q·r ≈ q·c(cell) + Σ_s lut[s][code_s]
  *
  * Both terms are control-plane literals at probe time — the nprobe
  * q·centroid scalars and the m×k residual LUT — so scoring the codes
  * table is a pure per-row projection: NO join, NO shuffle, and the
  * file listing itself prunes to nprobe cell directories. A 100-TB
  * raw corpus stores as |corpus|·m small ints (32× narrower at
  * m=16,k=16 over 64-dim doubles); the probe reads nprobe/cells of
  * THAT, and the exact re-rank reads full vectors only for the
  * shortlist ids.
  */
object IvfPq {

  /** Residual per row: vec − centroid(cell). One broadcast of the tiny
    * centroid table; the corpus never shuffles here. */
  private def residuals(index: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, cellCol: String): DataFrame =
    index.join(broadcast(cents), cellCol)
      .select(col(idCol), col(cellCol),
        zip_with(col(vecCol), col("centroid"), (a, b) => a - b).as("resid"))

  /** Reconstructed residual r̂ for a `codes` column, from collected
    * codebooks as nested literals — a per-row projection (the decode
    * half of ADC). Shared by the probe's candidate scoring and the
    * build's error-stats pass. */
  private def residHatLit(books: Array[(Int, Int, Seq[Double])], m: Int) = {
    val segLits = (0 until m).map { s =>
      typedlit(books.filter(_._1 == s).sortBy(_._2).map(_._3).toSeq)
    }
    concat((0 until m).map(s =>
      element_at(segLits(s), col("codes")(s) + 1)): _*)
  }

  private def collectBooks(books: DataFrame): Array[(Int, Int, Seq[Double])] =
    books.collect().map { r => (r.getAs[Int]("seg"), r.getAs[Int]("code"),
      r.getSeq[Double](r.fieldIndex("centroid"))) }

  /** Per-(batch, cell) reconstruction-error stats from an encoded
    * frame that carries BOTH the residual and its codes: n, mean, p99
    * and max of ‖resid − r̂‖. Stored beside the index (`errstats/`) so
    * probes can derive completeness margins from the INDEX — the
    * bound |q·x − q·x̂| ≤ ‖x − x̂‖ makes max_err a sufficient margin
    * for guaranteed-complete candidate generation. Driver-sized
    * output (batches × cells). */
  private def errStats(encoded: DataFrame, cellCol: String,
      books: Array[(Int, Int, Seq[Double])], m: Int): DataFrame = {
    val err = sqrt(aggregate(
      zip_with(col("resid"), residHatLit(books, m), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x))
    encoded.select(col(cellCol), err.as("err"))
      .groupBy(col(cellCol))
      .agg(count(lit(1)).as("n"), avg(col("err")).as("mean_err"),
        percentile_approx(col("err"), lit(0.99), lit(1000)).as("p99_err"),
        max(col("err")).as("max_err"))
  }

  /** The index's stored completeness margin: max ‖x − x̂‖ over every
    * batch's error stats, padded for fp slack. Control-plane read of
    * the tiny errstats table. */
  def storedMaxErr(spark: SparkSession, path: String): Double =
    spark.read.parquet(s"$path/errstats")
      .agg(max(col("max_err"))).head().getDouble(0)

  /** QUANTIZER-staleness signal — [[Ivf.cellFill]]'s analogue for the
    * codebooks: row-weighted mean p99 reconstruction error of the
    * APPENDED batches over the trained base's. Appends encode against
    * frozen centroids + codebooks, so a drifting corpus shows up
    * exactly here: deltas that no longer resemble the training data
    * reconstruct worse, ADC scores blur, and recall at fixed nprobe
    * decays silently. Read from the errstats table alone —
    * control-plane, no codes touched. Ratio ≈ 1 → distribution still
    * matches the trained quantizers; `needsRetrain` thresholds it for
    * the maintenance loop (re-run [[writeIndex]] when true, the
    * FAISS re-train discipline). Returns NaN when nothing is appended
    * or the base error is zero (nothing to compare). */
  def quantizerDrift(spark: SparkSession, path: String): Double = {
    // `batch` is a partition column — discovery infers INT from the
    // directory names, so cast before the typed collect
    val rows = spark.read.parquet(s"$path/errstats")
      .select(col("batch").cast("long"), col("n").cast("long"),
        col("p99_err").cast("double")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def weightedP99(rs: Array[(Long, Long, Double)]): Double = {
      val n = rs.map(_._2).sum
      if (n == 0L) 0.0 else rs.map(t => t._2 * t._3).sum / n
    }
    val base = weightedP99(rows.filter(_._1 == 0L))
    val appended = rows.filter(_._1 != 0L)
    if (appended.isEmpty || base <= 0.0) Double.NaN
    else weightedP99(appended) / base
  }

  /** True when appended mass reconstructs `threshold`× worse than the
    * trained base — the re-train trigger. False while nothing is
    * appended (nothing can have drifted). */
  def needsRetrain(spark: SparkSession, path: String,
      threshold: Double = 1.25): Boolean = {
    val d = quantizerDrift(spark, path)
    !d.isNaN && d >= threshold
  }

  /** Builds and persists the full index at `path`:
    *   - `cells/<cellCol>=…/`  PQ code rows (idCol, codes) per IVF cell
    *   - `centroids/`          refined coarse centroids (cellCol, centroid)
    *   - `codebooks/`          shared residual codebooks (seg, code, centroid)
    *
    * Input vectors must be unit-normalized (the [[Ivf]] contract).
    * Build cost: the Lloyd rounds of both quantizers + one shuffle to
    * partition codes by cell — paid once; every probe after is a
    * pruned read. */
  def writeIndex(v: DataFrame, idCol: String, vecCol: String,
      cellCol: String, path: String, m: Int, k: Int,
      ivfRounds: Int = 2, pqRounds: Int = 3): Unit = {
    val (index, cents) = Ivf.refine(v, idCol, vecCol, cellCol, ivfRounds)
    val resid = Barrier.materialize(residuals(index, cents, idCol, vecCol, cellCol))._1
    try writeFrom(resid, cents, idCol, cellCol, path, m, k, pqRounds)
    finally Barrier.release(resid)
  }

  private def writeFrom(resid: DataFrame, cents: DataFrame, idCol: String,
      cellCol: String, path: String, m: Int, k: Int, pqRounds: Int): Unit = {
    val books = Pq.train(resid, idCol, "resid", m, k, pqRounds)
    // encode is a pure projection, so the cell id rides along — no
    // join needed to re-attach it before the partitioned write; the
    // repartition lines writer tasks up with cell directories so each
    // cell lands as few large files, not tasks×cells small ones
    // batch=0 is the trained base; [[appendToIndex]] lands deltas as
    // batch=N siblings (uniform two-level layout — partition
    // discovery rejects mixed depths, same contract as Ivf)
    // carry the residual through the encode projection so the error
    // stats need no corpus-wide re-join; the stored cells keep only
    // (id, codes) — the narrow layout is the point of PQ
    val encoded = Barrier.materialize(Pq.encode(resid, books, idCol, "resid", m,
      carry = Seq(cellCol, "resid")))._1
    try {
      // invalidate the PREVIOUS build's completion marker BEFORE the
      // first overwrite: errstats lands last and build-if-missing
      // callers treat its _SUCCESS as "index complete", so a rebuild
      // crashing mid-cells-write must not leave the old marker
      // pointing at torn cells (review finding — the Ivf.writeIndex
      // cellstats discipline applied here)
      val errP = new org.apache.hadoop.fs.Path(s"$path/errstats")
      errP.getFileSystem(encoded.sparkSession.sparkContext.hadoopConfiguration)
        .delete(errP, true)
      encoded.drop("resid")
        .withColumn("batch", lit(0L))
        .repartition(col(cellCol))
        .write.partitionBy("batch", cellCol).mode("overwrite")
        .parquet(s"$path/cells")
      cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      books.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
      errStats(encoded, cellCol, collectBooks(books), m)
        .withColumn("batch", lit(0L))
        .coalesce(1).write.partitionBy("batch").mode("overwrite")
        .parquet(s"$path/errstats")
    } finally
      // the checkpoint carries full residual vectors (corpus-sized);
      // a repeated build or a streaming append loop must not pile
      // those blocks up in executor storage for the session's life
      Barrier.release(encoded)
  }

  /** Grows a persisted IVF-PQ index WITHOUT re-training either
    * quantizer: the delta is assigned to the STORED coarse centroids,
    * its residuals are encoded with the STORED codebooks, and the
    * codes land under `batch=<batchId>/<cell>=…` next to the trained
    * base — [[Ivf.appendToIndex]]'s discipline applied to both
    * quantization levels (FAISS's `add` vs `train` split: adding
    * vectors never retrains). Deterministic assign+encode plus
    * dynamic partition overwrite → a replayed batch replaces exactly
    * itself. Probes are unchanged: [[adcShortlist]]'s cell filter
    * prunes across batch dirs, and the LUT/centroid terms come from
    * the same stored tables the append encoded against. Centroid and
    * codebook drift accumulate between re-trains — [[Ivf.cellFill]]
    * over `path` is the re-train signal here too. */
  def appendToIndex(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      batchId: Long): Unit = {
    require(batchId > 0L, s"batch 0 is the trained base, got $batchId")
    Ivf.requireBatchLayout(spark, path)
    val cents = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/codebooks")
    val m = books.agg(max(col("seg"))).head().getInt(0) + 1
    val assigned = Ivf.assign(delta, cents, idCol, vecCol, cellCol)
    val resid = residuals(assigned, cents, idCol, vecCol, cellCol)
    val encoded = Barrier.materialize(Pq.encode(resid, books, idCol, "resid", m,
      carry = Seq(cellCol, "resid")))._1
    try {
      encoded.drop("resid")
        .withColumn("batch", lit(batchId))
        .repartition(col(cellCol))
        .write.partitionBy("batch", cellCol)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$path/cells")
      // the batch's own error stats ride along (same replay contract:
      // dynamic overwrite replaces exactly this batch's row group), so
      // storedMaxErr stays an upper bound as the index grows
      errStats(encoded, cellCol, collectBooks(books), m)
        .withColumn("batch", lit(batchId))
        .coalesce(1).write.partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$path/errstats")
    } finally
      // per-batch checkpoints in a foreachBatch loop must not
      // accumulate in executor storage
      Barrier.release(encoded)
  }

  /** ADC shortlist from a persisted index for a single query vector
    * `q` (unit-normalized): rank centroids driver-side, read ONLY the
    * winning nprobe cell directories, score each code row as
    * q·c(cell) + Σ_s lut[s][codes[s]] with both terms literal.
    * Returns (idCol, cellCol, adc_score) — the `shortlist` biggest. */
  def adcShortlist(spark: SparkSession, path: String, q: Seq[Double],
      idCol: String, cellCol: String, nprobe: Int,
      shortlist: Int): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col(cellCol), col("centroid")).collect()
      .map(r => (r.get(0), {
        val c = r.getSeq[Double](1)
        q.zip(c).map { case (a, b) => a * b }.sum
      }))
    val probed = cents.sortBy { case (cell, d) => (-d, cell.toString) }
      .take(nprobe)
    // q·centroid per probed cell, a literal map keyed by cell id
    val cellDot = element_at(
      map(probed.flatMap { case (cell, d) => Seq(lit(cell), lit(d)) }: _*),
      col(cellCol))
    val books = collectBooks(spark.read.parquet(s"$path/codebooks"))
    val m = books.map(_._1).max + 1
    val segLen = q.length / m
    // lut[s][code] = q_s · residual-codebook centroid — shared across
    // cells because residual codebooks are cell-independent
    val lutLit = array((0 until m).map { s =>
      val row = books.filter(_._1 == s).sortBy(_._2).map { case (_, _, cent) =>
        q.slice(s * segLen, (s + 1) * segLen)
          .zip(cent).map { case (a, b) => a * b }.sum
      }
      array(row.map(lit).toIndexedSeq: _*)
    }: _*)
    val residScore = (0 until m)
      .map(s => element_at(element_at(lutLit, s + 1), col("codes")(s) + 1))
      .reduce(_ + _)
    spark.read.parquet(s"$path/cells")
      .filter(col(cellCol).isin(probed.map(_._1).toIndexedSeq: _*))
      .select(col(idCol), col(cellCol),
        round(cellDot + residScore, 6).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol)).limit(shortlist)
  }

  /** Near-dup pairs of a delta against a persisted IVF-PQ index — the
    * composed-index counterpart of [[Ivf.nearDupProbe]], closing the
    * streaming loop for the quantized store: foreachBatch {
    * nearDupProbe → land pairs under batch=N → [[appendToIndex]] }.
    *
    * The index holds CODES, not vectors, so the probe is two-stage:
    *
    *  1. CANDIDATES from the codes alone: the delta is assigned to
    *     the stored centroids (broadcast), the cells scan carries a
    *     literal partition filter over the delta's cells, and each
    *     code row is scored against each same-cell delta vector via
    *     its RECONSTRUCTION x̂ = centroid(cell) + Σ_s codebook[s][code_s]
    *     — codebooks are control-plane literals, so reconstruction is
    *     a per-row projection and the index never shuffles. Rows with
    *     approx cosine ≥ threshold − candidateMargin survive.
    *  2. EXACT re-rank: candidate indexed ids fetch their true
    *     vectors from `vectors` (the id → vecCol source the codes
    *     were built from) via a broadcast join — bounded by the
    *     candidate count, never a corpus scan — and pairs keep
    *     exact cos ≥ threshold.
    *
    * Within-delta pairs (both members in the same batch, neither
    * indexed yet) come from an exact self-join, as in
    * [[Ivf.nearDupProbe]]. `candidateMargin` absorbs PQ
    * reconstruction error — |q·x − q·x̂| ≤ ‖x − x̂‖, so pairs are
    * GUARANTEED complete exactly when the margin dominates the
    * corpus's max reconstruction error. The index KNOWS that number:
    * [[writeIndex]]/[[appendToIndex]] store per-(batch, cell) error
    * stats, and the default (NaN) margin derives from
    * [[storedMaxErr]] — completeness by construction, with the
    * pruning sharpness the data actually admits. On a clustered
    * corpus (PQ's use case) the stored max is small and candidates
    * prune hard; the synthetic test embeddings are near-random and
    * close to incompressible (stored max ‖x − x̂‖ ≈ 0.83 at m=16,
    * k=16), so there the derived margin degrades candidate
    * generation to the cell-local join and the IVF cell pruning is
    * what remains — the right floor for that data. Pass an explicit
    * margin to trade recall for speed below the guarantee.
    * Contract: delta ids are disjoint from indexed ids; `distinct`
    * absorbs replayed appends. Pairs are (id_a < id_b,
    * cos_sim ≥ threshold). */
  def nearDupProbe(spark: SparkSession, path: String, vectors: DataFrame,
      delta: DataFrame, idCol: String, vecCol: String, cellCol: String,
      threshold: Double, candidateMargin: Double = Double.NaN): DataFrame = {
    val margin =
      if (candidateMargin.isNaN) storedMaxErr(spark, path) * (1 + 1e-9) + 1e-12
      else candidateMargin
    val cents = spark.read.parquet(s"$path/centroids")
    val books = collectBooks(spark.read.parquet(s"$path/codebooks"))
    val m = books.map(_._1).max + 1
    val d = Barrier.materialize(Ivf.assign(delta, cents, idCol, vecCol, cellCol))._1
    val cells = d.select(col(cellCol)).distinct().collect().map(_.get(0))
    // x̂ segment lookup: per segment, a literal array<array<double>>
    // indexed by the stored code id (dense, train's contract)
    val residHat = residHatLit(books, m)
    val approx = spark.read.parquet(s"$path/cells").as("i")
      .filter(col(cellCol).isin(cells.toIndexedSeq: _*))
      .join(broadcast(d).as("d"),
        expr(s"i.$cellCol = d.$cellCol AND i.$idCol <> d.$idCol"))
      .join(broadcast(cents.withColumnRenamed(cellCol, "__c")),
        col(s"i.$cellCol") === col("__c"))
      .select(col(s"i.$idCol").as("__iid"), col(s"d.$idCol").as("__did"),
        col(s"d.$vecCol").as("__dvec"),
        dot(col(s"d.$vecCol"),
          zip_with(col("centroid"), residHat, (a, b) => a + b)).as("__adc"))
      .filter(col("__adc") >= threshold - margin)
    // exact re-rank: the candidate set (bounded by the probe, tiny
    // next to the corpus) broadcasts INTO the vector-source scan —
    // the big side streams through a broadcast hash join, reading
    // true vectors only where the join hits
    val oldNew = vectors
      .select(col(idCol).as("__iid2"), col(vecCol).as("__ivec"))
      .join(broadcast(approx), col("__iid2") === col("__iid"))
      .select(
        least(col("__iid"), col("__did")).as("id_a"),
        greatest(col("__iid"), col("__did")).as("id_b"),
        round(dot(col("__ivec"), col("__dvec")), 6).as("cos_sim"))
    val self = d.as("a")
      .join(d.as("b"), expr(s"a.$cellCol = b.$cellCol AND a.$idCol < b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(dot(col(s"a.$vecCol"), col(s"b.$vecCol")), 6).as("cos_sim"))
    oldNew.unionAll(self)
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /** Batch serving for the quantized index: top-k for a whole query
    * SET in one pass — [[Ivf.probeIndexedBatch]]'s shape on PQ codes
    * (the offline retrieval-indexing case where per-query
    * [[probe]] round-trips would dominate).
    *
    * Per-query cell ranking is a broadcast of the tiny centroid
    * table + one WindowGroupLimit top-nprobe; the codes scan runs
    * ONCE, partition-filtered to the union of every query's probed
    * cells (driver-collected cell ids — control-plane, bounded by
    * |cells|); ADC scoring uses the algebraic identity
    * q·x̂ = q·(c + r̂) — the literal m×k LUT of the single-query path
    * would need one literal per query, so the batch form trades it
    * for ONE broadcast join against the (query, cell, centroid)
    * pairs and a zip_with dot, still a single pass over the pruned
    * codes with no shuffle of the index; per-query ADC shortlist and
    * the exact re-rank (true vectors only for shortlisted ids,
    * shortlist broadcasts INTO the corpus scan) are again
    * WindowGroupLimit prunes. Returns (qIdCol, idCol, cos_sim,
    * rank ≤ k). */
  def probeIndexedBatch(spark: SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      cellCol: String, nprobe: Int, k: Int, qIdCol: String = "query_id",
      qCol: String = "q", shortlistFactor: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = spark.read.parquet(s"$path/centroids")
    val books = collectBooks(spark.read.parquet(s"$path/codebooks"))
    val m = books.map(_._1).max + 1
    // consumed twice: cell-id union + ADC join
    val qCells = Barrier.materialize(queries.crossJoin(broadcast(cents))
      .withColumn("__sim", dot(col(qCol), col("centroid")))
      .withColumn("__r", row_number().over(
        Window.partitionBy(qIdCol).orderBy(col("__sim").desc, col(cellCol))))
      .filter(col("__r") <= nprobe)
      .select(col(qIdCol), col(qCol), col(cellCol), col("centroid")))._1
    val probedCells = qCells.select(cellCol).distinct().collect().map(_.get(0))
    val short = spark.read.parquet(s"$path/cells")
      .filter(col(cellCol).isin(probedCells.toIndexedSeq: _*))
      .join(broadcast(qCells), cellCol)
      .select(col(qIdCol), col(idCol), col(qCol),
        round(dot(col(qCol),
          zip_with(col("centroid"), residHatLit(books, m), (a, b) => a + b)),
          6).as("adc_score"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(qIdCol).orderBy(col("adc_score").desc, col(idCol))))
      .filter(col("__r") <= k.toLong * shortlistFactor)
      .select(col(qIdCol), col(idCol), col(qCol))
    corpus.select(col(idCol), col(vecCol))
      .join(broadcast(short), idCol)
      .select(col(qIdCol), col(idCol),
        round(dot(col(vecCol), col(qCol)), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(qIdCol).orderBy(col("cos_sim").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Full serving path: ADC shortlist (codes-only, pruned read) →
    * exact cosine re-rank against `corpus` (idCol, vecCol with
    * unit-normalized vectors — read only for the shortlist ids via a
    * broadcast semi-join). Returns (idCol, cos_sim) top-k. */
  def probe(spark: SparkSession, path: String, corpus: DataFrame,
      q: Seq[Double], idCol: String, vecCol: String, cellCol: String,
      nprobe: Int, k: Int, shortlistFactor: Int = 10): DataFrame = {
    val short = adcShortlist(spark, path, q, idCol, cellCol,
      nprobe, k * shortlistFactor)
    corpus.join(broadcast(short.select(idCol)), idCol)
      .select(col(idCol),
        round(dot(col(vecCol), lit(q.toArray)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol)).limit(k)
  }
}
