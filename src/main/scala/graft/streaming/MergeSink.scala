package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.operators.{Barrier, IncrementalMerge}

/** Streaming form of the reference's incremental MERGE (etl-dag.sql):
  * each micro-batch is insert-only-merged into a parquet target via
  * foreachBatch — the canonical Spark pattern for an idempotent,
  * exactly-once-per-key sink when the store has no native MERGE.
  *
  * Re-delivered rows (at-least-once sources, restarted queries) are
  * dropped by the anti-join on the merge key, so the sink is
  * idempotent. At lake scale the target would be a Delta/Iceberg table
  * whose MERGE INTO takes this role; the batch function is the only
  * thing that changes.
  */
object MergeSink {

  /** Returns a (batchDF, batchId) function for
    * `writeStream.foreachBatch`. Dedups the batch on `keys` (a source
    * may redeliver within one micro-batch), anti-joins against the
    * existing target, appends. Only a genuinely absent target counts
    * as "first batch" — any other read error propagates, because
    * swallowing it would append duplicates and silently break the
    * per-key contract.
    *
    * The dedupe keeps one arbitrary row per key with `row_number()`
    * (a `dropDuplicates` plans a sort aggregate with one `first()` per
    * column); the anti join probes the target's raw key column(s) —
    * it only tests existence, so a `distinct()` there would add an
    * aggregate and exchange over the whole target per batch. The
    * target's keys are read with the batch's key schema, which skips
    * the footer-reading job of schema inference: the target is this
    * sink's own output, so it holds those columns. A target written
    * without them would read NULL keys, match nothing and take every
    * batch row again. */
  def insertOnlyParquet(targetPath: String, keys: Seq[String])(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val deduped = IncrementalMerge.latestPerKey(batch, keys, versionCols = keys)
    val path = new org.apache.hadoop.fs.Path(targetPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (!fs.exists(path)) deduped
      else {
        val keySchema = deduped.select(keys.map(deduped.col): _*).schema
        deduped.join(spark.read.schema(keySchema).parquet(targetPath), keys, "left_anti")
      }
    fresh.write.mode(SaveMode.Append).parquet(targetPath)
  }

  /** Upsert sink: each micro-batch REPLACES matching keys (highest
    * `versionCols` wins within the batch) and inserts the rest. A
    * plain parquet target cannot delete in place, so the merged result
    * is rewritten in full — STAGED next to the live target and
    * published by rename ([[graft.sources.LakeWriter.publish]]): the
    * merge job reads the intact target while writing, so a crash or
    * executor loss mid-rewrite never strands a half-written target
    * (the in-place overwrite + localCheckpoint it replaces lost the
    * whole table if lineage blocks died after the delete started). On
    * a lake this batch function becomes Delta/Iceberg `MERGE INTO` and
    * the rewrite disappears. Restated late data converges because
    * replays re-assert the same (key, version) winners.
    *
    * SCALE NOTE: the full-target rewrite is O(|target|) per batch —
    * fine for compact dimension tables, unusable for a deep fact
    * table on a minutes cadence. Use [[upsertPartitionedParquet]]
    * there: it rewrites only the partitions a batch touches.
    *
    * `evolveSchema = true` opts into MERGE-side schema evolution
    * (Delta's mergeSchema): a batch with NEW columns widens the
    * target (pre-evolution rows read NULL), a batch missing retired
    * columns keeps them. Strict by default so a typo'd producer
    * column fails loudly instead of minting a table column. */
  def upsertParquet(targetPath: String, keys: Seq[String], versionCols: Seq[String],
      evolveSchema: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val path = new org.apache.hadoop.fs.Path(targetPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) {
      IncrementalMerge.latestPerKey(batch, keys, versionCols)
        .write.mode(SaveMode.Append).parquet(targetPath)
    } else {
      val target = spark.read.parquet(targetPath)
      val merged = IncrementalMerge.upsert(target, batch, keys, versionCols,
        evolveSchema = evolveSchema)
      val staged = graft.sources.LakeWriter.stagingPath(targetPath)
      merged.write.mode(SaveMode.Overwrite).parquet(staged)
      graft.sources.LakeWriter.publish(spark, staged, targetPath)
    }
  }

  /** Partition-pruned upsert sink — the scale form of [[upsertParquet]]
    * (reference: etl-dag.sql:49-84, the watermark-scoped MERGE that
    * touches only the affected days). The target is hive-partitioned on
    * `partitionCol`; each micro-batch
    *   1. resolves its per-key winners (highest `versionCols`),
    *   2. collects the TOUCHED partition values (micro-batch-bounded →
    *      control-plane),
    *   3. reads only those partitions (`PartitionFilters` prune the
    *      scan to the touched directories),
    *   4. merges and writes the touched partitions to staging,
    *   5. swaps ONLY the touched partition directories into the target.
    * Per-batch cost is O(|touched partitions|), not O(|target|): a
    * minutes-cadence stream against a years-deep table rewrites one or
    * two day directories. Untouched directories are never opened,
    * written, or renamed — their files stay byte-identical.
    *
    * Contract: `partitionCol` must be non-null and FUNCTIONALLY
    * DETERMINED by the key (a key never moves partitions between
    * versions), or the stale copy in the old partition would survive;
    * this is the same constraint Snowflake's watermark MERGE and a
    * Delta partitioned MERGE place on their partition column. Each
    * partition swap is move-aside + promote, with the moved-aside
    * copy held OUTSIDE the table root (`<target>.__swap__/<dir>`) so
    * a concurrent full-table read never sees a stray directory and
    * partition-type inference never meets a mangled value. A crash
    * between the two renames leaves that partition parked in
    * `.__swap__`; every subsequent batch HEALS first — any parked
    * directory whose live twin is absent is restored before anything
    * is read — so no crash point loses rows, and replaying the batch
    * converges because per-partition upsert is idempotent ((key,
    * version) winners re-assert). Partition values should be
    * string/integral primitives so hive partition-type inference
    * round-trips them. */
  def upsertPartitionedParquet(targetPath: String, partitionCol: String,
      keys: Seq[String], versionCols: Seq[String])(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    val latest = IncrementalMerge.latestPerKey(batch, keys, versionCols)
      .persist()
    try {
      val touched = latest.select(col(partitionCol)).distinct().collect().map(_.get(0))
      require(!touched.contains(null),
        s"upsertPartitionedParquet: $partitionCol must be non-null on every batch row")
      if (touched.isEmpty) return // empty batch: nothing to swap
      val path = new org.apache.hadoop.fs.Path(targetPath)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val swapRoot = new org.apache.hadoop.fs.Path(targetPath + ".__swap__")
      // HEAL any interrupted swap from a previous batch: a partition
      // parked in swapRoot with no live twin is the only copy of its
      // rows — restore it before reading anything. A parked dir whose
      // live twin exists is a stale leftover (crash after promote);
      // drop it.
      if (fs.exists(swapRoot)) {
        fs.listStatus(swapRoot).foreach { st =>
          val live = new org.apache.hadoop.fs.Path(path, st.getPath.getName)
          if (!fs.exists(live)) fs.rename(st.getPath, live)
          else fs.delete(st.getPath, true)
        }
        fs.delete(swapRoot, true)
      }
      if (!fs.exists(path)) {
        latest.write.partitionBy(partitionCol).parquet(targetPath)
        return
      }
      // prune the read to touched directories; basePath keeps the
      // partition column in the schema for the merge + rewrite
      val target = spark.read.option("basePath", targetPath).parquet(targetPath)
        .filter(col(partitionCol).isin(touched: _*))
      val merged = IncrementalMerge.upsert(target, latest, keys, versionCols)
      val staged = graft.sources.LakeWriter.stagingPath(targetPath)
      val stagedP = new org.apache.hadoop.fs.Path(staged)
      if (fs.exists(stagedP)) fs.delete(stagedP, true)
      merged.write.partitionBy(partitionCol).parquet(staged)
      // swap exactly the partition directories the merge produced (the
      // staged output holds only touched partitions by construction);
      // directory names come from the writer, so hive value escaping
      // is never re-derived here
      fs.mkdirs(swapRoot)
      fs.listStatus(stagedP).filter(_.getPath.getName.startsWith(s"$partitionCol="))
        .foreach { st =>
          val live = new org.apache.hadoop.fs.Path(path, st.getPath.getName)
          val parked = new org.apache.hadoop.fs.Path(swapRoot, st.getPath.getName)
          if (fs.exists(live) && !fs.rename(live, parked))
            throw new java.io.IOException(s"partition swap: cannot park $live")
          if (!fs.rename(st.getPath, live)) {
            if (fs.exists(parked)) fs.rename(parked, live) // restore
            throw new java.io.IOException(s"partition swap: cannot promote to $live")
          }
        }
      fs.delete(swapRoot, true)
      fs.delete(stagedP, true)
    } finally latest.unpersist()
  }

  /** Batch-side equivalence helper (spec + docs): the result any
    * sequence of insertOnlyParquet batches must converge to. Each batch
    * is deduped on the keys first — exactly what the sink does — so a
    * first batch with intra-batch duplicate keys converges identically. */
  def expectedTarget(allBatches: Seq[DataFrame], keys: Seq[String]): DataFrame =
    allBatches.map(_.dropDuplicates(keys))
      .reduce((t, b) => IncrementalMerge.insertOnly(t, b, keys))

  /** Streaming maintenance of EXACT reach bitmaps: each micro-batch's
    * ids fold into per-(group, day) bitmaps (`bitmap_agg`) and OR into
    * the stored table (`bitmap_or`), staged + published like
    * [[upsertParquet]]. Because OR is idempotent and commutative, a
    * REPLAYED batch converges to the same table — at-least-once
    * delivery gives exactly-once reach with NO dedup state, the
    * algebraic version of the anti-join contract
    * ([[insertOnlyParquet]]) — and any rollup (reach per group over
    * any day range) is a `bitmap_or_count` over the tiny bitmap table,
    * never a rescan of events. Only groups TOUCHED by the batch are
    * rewritten. */
  def bitmapReachParquet(bitmapPath: String, groupCols: Seq[String],
      idCol: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.{coalesce, col, expr}
    val batchBm = batch.groupBy(groupCols.map(col): _*)
      .agg(expr(s"bitmap_agg($idCol)").as("__bm_new"))
    val path = new org.apache.hadoop.fs.Path(bitmapPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(path)) batchBm.select(
        groupCols.map(col) :+ col("__bm_new").as("bm"): _*)
      else {
        val target = spark.read.parquet(bitmapPath)
        target.join(batchBm, groupCols, "full_outer")
          .select(groupCols.map(col) :+
            coalesce(
              expr("bitmap_or(bm, __bm_new)"),  // both present
              col("__bm_new"),                   // new group
              col("bm")                          // untouched group
            ).as("bm"): _*)
      }
    val staged = graft.sources.LakeWriter.stagingPath(bitmapPath)
    merged.write.mode(SaveMode.Overwrite).parquet(staged)
    graft.sources.LakeWriter.publish(spark, staged, bitmapPath)
  }

  /** Streaming audience-duplication maintenance (C116 kept current
    * under ingest, r9 directive #5): per-batch (network, weight)
    * viewer-bitmap deltas OR-merge into the stored state — literally
    * [[bitmapReachParquet]] grouped by (network, weight), so the
    * replay/exactly-once story is H11's verbatim (OR is idempotent;
    * a replayed batch converges with NO dedup state). The weight
    * rides in the GROUP key: a viewer's weight is functionally
    * determined by the viewer (the panel contract — same constraint
    * as [[upsertPartitionedParquet]]'s partition column), so the
    * viewer's bit lives in exactly one (network, w) cell per network
    * and the weighted pair fold is exact. State is
    * |networks|·|distinct weights| bitmaps — entity-scale, never the
    * fact; the fact is read once, by the stream itself.
    * `idCol` must be non-negative BIGINT (the bitmap contract). */
  def audienceDuplicationSink(bitmapPath: String, netCol: String,
      wCol: String, idCol: String)(batch: DataFrame, batchId: Long): Unit =
    bitmapReachParquet(bitmapPath, Seq(netCol, wCol), idCol)(batch, batchId)

  /** The C116 duplication matrix from [[audienceDuplicationSink]]
    * state alone — no fact re-scan: for every ordered network pair,
    * w_both = Σ_w w · |bm(a,w) ∩ bm(b,w)| (cells only intersect at
    * equal weight because a viewer has one weight), w_a from each
    * cell's own cardinality, dup_pct = 100·w_both/w_a — the same
    * integral-sums-to-one-division arithmetic as the batch row, so
    * parity is exact (MergeSinkSpec pins streamed == batch). The pair
    * join is |networks|·|weights| against itself on the weight key —
    * state-sized, bounded by the network and weight domains. */
  def duplicationFromBitmaps(spark: SparkSession, bitmapPath: String,
      netCol: String = "network", wCol: String = "w"): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, lit, round, sum}
    val bm = spark.read.parquet(bitmapPath)
    val per = bm.select(col(netCol).as("net_a"),
        (col(wCol) * expr("bitmap_and_count(bm, bm)")).as("wn"))
      .groupBy("net_a").agg(sum("wn").as("w_a"))
    val both = bm.as("a").join(bm.as("b"),
        expr(s"a.$wCol = b.$wCol AND a.$netCol <> b.$netCol"))
      .select(col(s"a.$netCol").as("net_a"), col(s"b.$netCol").as("net_b"),
        expr("bitmap_and_count(a.bm, b.bm)").as("nb"),
        (col(s"a.$wCol") * expr("bitmap_and_count(a.bm, b.bm)")).as("wb"))
      .groupBy("net_a", "net_b")
      .agg(sum("wb").as("w_both"), sum("nb").as("n_both"))
      // a pair whose weight cells merely COEXIST (equal w on both
      // sides, zero shared viewers) must emit NO row — the batch row
      // derives pairs from each viewer's own network set, so no shared
      // viewer → no row. Filtering on w_both would be wrong the other
      // way: shared viewers whose weight is 0 legitimately emit a
      // w_both = 0 row in both forms (review finding).
      .filter(col("n_both") > 0)
    both.join(broadcast(per), "net_a")
      .select(col("net_a"), col("net_b"), col("w_both"),
        round(lit(100.0) * col("w_both") / col("w_a"), 9).as("dup_pct"))
  }

  /** Streaming heavy-hitter maintenance: each micro-batch folds its
    * rows into ONE frequent-items sketch per group
    * (`approx_top_k_accumulate` — the same DataSketches summary as
    * q_heavy_hitters) and lands it under `batch_id=<id>/`. Frequency
    * sketches are NOT idempotent under replay (re-adding doubles
    * counts — unlike the bitmap sink's OR), so exactly-once comes from
    * the LAYOUT instead: a replayed batch overwrites its own batch_id
    * partition and every other batch's sketches are untouched.
    * [[topKFromSketches]] answers "top k per group, all time" (or any
    * batch range — filter batch_id) by combining sketches: per-group
    * state is O(sketch) per batch, and no raw row is ever re-read. */
  def sketchTopKParquet(sketchPath: String, groupCols: Seq[String],
      itemCol: String)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    batch.groupBy(groupCols.map(col): _*)
      .agg(expr(s"approx_top_k_accumulate($itemCol)").as("sk"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$sketchPath/batch_id=$batchId")
  }

  /** Top-k per group from [[sketchTopKParquet]]'s sketch table. */
  def topKFromSketches(spark: SparkSession, sketchPath: String,
      groupCols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, expr}
    spark.read.option("basePath", sketchPath).parquet(sketchPath)
      .groupBy(groupCols.map(col): _*)
      .agg(expr(s"approx_top_k_estimate(approx_top_k_combine(sk), $k)").as("top"))
      .select(groupCols.map(col) :+ explode(col("top")).as("hit"): _*)
      .select(groupCols.map(col) :+ col("hit.item") :+ col("hit.count"): _*)
  }

  /** Streaming QUANTILE maintenance — the third sketch sink, same
    * per-batch layout discipline as [[sketchTopKParquet]]: each
    * micro-batch folds to ONE GK/t-digest summary per group
    * (`qsketch_agg`, the same mergeable digest as q_quantile_sketch)
    * under `batch_id=<id>/`. Quantile digests are not replay-
    * idempotent (re-adding skews mass), so exactly-once again comes
    * from the layout — a replayed batch overwrites its own partition.
    * [[quantilesFromSketches]] answers "p50/p95/p99 per group, all
    * time or any batch range" by combining digests; raw values are
    * never re-read and per-group state is O(digest) per batch. */
  def sketchQuantileParquet(sketchPath: String, groupCols: Seq[String],
      valueCol: String)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    batch.groupBy(groupCols.map(col): _*)
      .agg(expr(s"qsketch_agg($valueCol)").as("qsk"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$sketchPath/batch_id=$batchId")
  }

  /** Percentiles per group from [[sketchQuantileParquet]]'s digest
    * table; `percentiles` are fractions in (0, 1]. */
  def quantilesFromSketches(spark: SparkSession, sketchPath: String,
      groupCols: Seq[String], percentiles: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    spark.read.option("basePath", sketchPath).parquet(sketchPath)
      .groupBy(groupCols.map(col): _*)
      .agg(expr("qsketch_combine(qsk)").as("qsk"))
      .select(groupCols.map(col) ++ percentiles.map { p =>
        // exact, collision-free labels: p50, p99_9, p0_1 — rounding
        // p*100 would alias 0.995/0.999 into one (wrong) p100 column
        // BigDecimal over the SHORTEST decimal repr (p.toString), not
        // the raw double: BigDecimal(0.999*100) would carry binary
        // noise into the label ("p99_90000000000001")
        val label = "p" + (BigDecimal(p.toString) * 100).underlying
          .stripTrailingZeros.toPlainString.replace(".", "_")
        expr(s"qsketch_estimate(qsk, ${p}D)").as(label)
      }: _*)
  }

  /** Streaming maintenance of an aggregated rollup (reference:
    * v_audience_metrics, etl-ddl-backfill.sql:188-218 — a VIEW there;
    * at scale you materialize it and maintain it incrementally): each
    * micro-batch of newly closed sessions (1) lands idempotently in
    * the sessions target, then (2) ONLY the rollup groups the batch
    * touched are re-aggregated from the full sessions table and
    * swapped into the metrics target — the affected-rebuild pattern
    * (etl-dag.sql's sessions stage) applied one level up. Groups are
    * the unit of consistency because a rollup row aggregates across
    * households — a new session can change reach/frequency of its
    * whole group, never of others.
    *
    * The touched-group key set is micro-batch-bounded → broadcast;
    * the sessions table is scanned once per batch for those groups
    * only (left_semi prunes at the scan when the table is partitioned
    * by a group column). Metrics rewrite is staged + renamed, same
    * crash contract as [[upsertParquet]]. */
  def rollupParquet(
      sessionsPath: String,
      sessionKeys: Seq[String],
      groupCols: Seq[String],
      metricsPath: String,
      aggregate: DataFrame => DataFrame)(
      batch: DataFrame, batchId: Long): Unit = {
    insertOnlyParquet(sessionsPath, sessionKeys)(batch, batchId)
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.broadcast
    val sessions = spark.read.parquet(sessionsPath)
    val touched = batch.select(groupCols.map(batch.col): _*).distinct()
    val recomputed =
      aggregate(sessions.join(broadcast(touched), groupCols, "left_semi"))
    val metricsP = new org.apache.hadoop.fs.Path(metricsPath)
    val fs = metricsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(metricsP)) recomputed
      else spark.read.parquet(metricsPath)
        .join(broadcast(touched), groupCols, "left_anti")
        .unionByName(recomputed)
    val staged = graft.sources.LakeWriter.stagingPath(metricsPath)
    merged.write.mode(SaveMode.Overwrite).parquet(staged)
    graft.sources.LakeWriter.publish(spark, staged, metricsPath)
  }

  /** Streaming k-anonymity release maintenance — the C87/C94
    * governance pair kept EXACT under streaming ingest. State layout
    * is `batch_id=N/` partitions, each holding the batch's per-QI
    * fold (row count + panelist bitmap): a REPLAYED batch overwrites
    * its OWN partition and touches nothing else (the
    * [[sketchTopKParquet]] layout contract), so BOTH statistics stay
    * exactly-once under at-least-once delivery — counts by partition
    * overwrite, panelist sets doubly safe by OR-idempotence. Per-QI
    * state is one row + one bitmap per batch; no raw row is kept. */
  def anonymityStateParquet(statePath: String, groupCols: Seq[String],
      idCol: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    batch.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), expr(s"bitmap_agg($idCol)").as("bm"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$statePath/batch_id=$batchId")
  }

  /** The released table derived from [[anonymityStateParquet]] state
    * alone (C94's one-round generalization, never re-reading raw
    * rows): per-batch folds merge by sum + bitmap OR, QI cells whose
    * EXACT panelist count clears k release their row counts, the rest
    * generalize `generalizeCol` into the '***' bucket. The merged
    * group table materializes once so both release branches read it
    * (the C94 build-once contract). */
  def anonymityRelease(spark: SparkSession, statePath: String,
      fullCols: Seq[String], generalizeCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, sum}
    require(fullCols.contains(generalizeCol),
      s"$generalizeCol must be one of $fullCols")
    val residual = fullCols.filterNot(_ == generalizeCol)
    val g = Barrier.materialize(spark.read.parquet(statePath)
      .groupBy(fullCols.map(col): _*)
      .agg(sum("n").as("n"), expr("bitmap_or_count(bm)").as("u")))._1
    val pass = g.filter(col("u") >= k)
      .select(fullCols.map(col) :+ col("n"): _*)
    val gen = g.filter(col("u") < k)
      .groupBy(residual.map(col): _*).agg(sum("n").as("n"))
      .select(fullCols.map(c =>
        if (c == generalizeCol) lit("***").as(c) else col(c)) :+ col("n"): _*)
    pass.union(gen)
  }
}
