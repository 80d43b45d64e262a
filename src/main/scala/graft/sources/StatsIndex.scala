package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max stats manifest — Delta/Iceberg-style data
  * skipping, decoupled from parquet footers.
  *
  * Parquet already prunes row groups whose [min,max] miss a pushed
  * predicate, but only AFTER the scan has listed every file and opened
  * every footer: at 100 TB that is millions of S3 GETs before the
  * first row is skipped. Lakehouse formats fix this by keeping
  * per-file stats in the table's transaction log so the DRIVER prunes
  * the file list before any footer is touched; this is that manifest
  * for the repo's plain-parquet lake layout ([[LakeWriter]]).
  *
  *  - [[build]]: one distributed scan groups rows by
  *    `_metadata.file_path` and writes one manifest row per file
  *    (`<col>__min`, `<col>__max`, typed as the column itself) under
  *    `table/_graft_stats` — an underscore path, so ordinary readers
  *    ignore it. Rebuild after compaction/z-order (production would
  *    fold this into each writer commit, like Delta's add-file stats).
  *  - [[prunedRead]]: filters the (tiny) manifest for files whose
  *    range intersects `[lo, hi]` and scans only those. The manifest
  *    read + file-list collect are driver control-plane on rows =
  *    |files|, not |data|. Skipping is sound for range predicates: a
  *    dropped file provably contains no qualifying row (all-null
  *    files carry null stats and are dropped — a range predicate
  *    matches no null). The caller's own filter is still applied, so
  *    a kept file never over-returns.
  *
  * Effectiveness tracks layout, same as parquet stat pruning: ranges
  * must be narrow per file (sort / [[LakeWriter.zorderBy]]) —
  * StatsIndexSpec pins both the pruned file count on a range-laid
  * table and result parity with the full scan.
  */
object StatsIndex {

  private def statsDir(table: String) = s"$table/_graft_stats"

  /** Recursive FS listing of the table's parquet data files (pure
    * driver metadata — no Spark job, no footer reads). Underscore /
    * dot paths are skipped, matching Spark's own source-file filter,
    * so the manifest never indexes itself. */
  private def listDataFiles(spark: SparkSession, table: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Set.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath
      val hidden = {
        var cur = p.getParent
        var h = p.getName.startsWith("_") || p.getName.startsWith(".")
        while (!h && cur != null && cur.depth() > root.depth()) {
          h = cur.getName.startsWith("_") || cur.getName.startsWith(".")
          cur = cur.getParent
        }
        h
      }
      if (!hidden && p.getName.endsWith(".parquet")) out += p.toUri.toString
    }
    out.result()
  }
  // NOTE: callers normalize these URIs before comparing against
  // _metadata.file_path values (see refresh)

  /** One manifest row per data file: file path + typed min/max per
    * requested column. */
  def build(spark: SparkSession, table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "stats index needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))
    }
    writeManifest(spark,
      spark.read.parquet(table)
        .select(col("_metadata.file_path").as("file"), col("*"))
        .groupBy("file")
        .agg(aggs.head, aggs.tail: _*),
      statsDir(table))
  }

  /** Staged-write-then-swap for every manifest flavor: a concurrent
    * pruned read never sees a half-written (or deleted-and-not-yet-
    * rewritten) index, and a crash mid-write keeps the previous one —
    * the same contract [[LakeWriter.publish]] gives data directories. */
  private def writeManifest(spark: SparkSession, df: DataFrame,
      dir: String): Unit = {
    val staged = LakeWriter.stagingPath(dir)
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    LakeWriter.publish(spark, staged, dir)
  }

  /** True when `table` carries a stats manifest. */
  def exists(spark: SparkSession, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(statsDir(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The column list a manifest was built over (recovered from its
    * `<col>__min` schema), so layout jobs can rebuild it without the
    * caller re-stating the columns. */
  def indexedColumns(spark: SparkSession, table: String): Seq[String] =
    spark.read.parquet(statsDir(table)).columns.toSeq
      .filter(_.endsWith("__min")).map(_.stripSuffix("__min"))

  /** What layout jobs must capture BEFORE their directory swap (the
    * swap deletes every index living inside the table): the min/max
    * column list and the bloom column list. */
  case class IndexSpec(statsCols: Seq[String],
      blooms: Seq[(String, Long, Long)]) {
    def isEmpty: Boolean = statsCols.isEmpty && blooms.isEmpty
  }

  /** Pre-swap capture for [[rebuildIndexes]]: the min/max column list
    * plus each bloom's (column, items, bits) — sizing travels with the
    * index so a layout-job rebuild can't silently shrink a
    * deliberately oversized filter into a saturated one. */
  def captureIndexes(spark: SparkSession, table: String): IndexSpec =
    IndexSpec(
      if (exists(spark, table)) indexedColumns(spark, table) else Seq.empty,
      bloomColumns(spark, table).map { c =>
        val r = spark.read.parquet(bloomDir(table, c))
          .select("items", "bits").head()
        (c, r.getLong(0), r.getLong(1))
      })

  /** Post-swap rebuild of everything [[captureIndexes]] saw — every
    * file was renamed by the rewrite, so incremental refresh has
    * nothing to salvage and a full rebuild is the correct (and only)
    * move. */
  def rebuildIndexes(spark: SparkSession, table: String,
      spec: IndexSpec): Unit = {
    if (spec.statsCols.nonEmpty) build(spark, table, spec.statsCols)
    spec.blooms.foreach { case (c, items, bits) =>
      buildBloom(spark, table, c, items, bits) }
  }

  /** Columns carrying a bloom index (subdirectories of _graft_bloom;
    * `.__staging__` / `.__old__` crash leftovers of the staged write
    * are NOT indexes and must not poison a layout-job rebuild). */
  def bloomColumns(spark: SparkSession, table: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$table/_graft_bloom")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.contains(".__")).toSeq
  }

  /** Incremental manifest maintenance: stats are computed for NEW
    * data files only (those absent from the manifest) and unioned
    * with the existing rows — appending one partition to a 100-TB
    * table indexes that partition's bytes, not the table's. Deleted
    * files are dropped from the manifest (pruning must not return
    * paths the scan would fail on). Columns must match [[build]]'s;
    * after a rewrite-in-place job (compaction, z-order) file names
    * change, so this degenerates to a full rebuild there — correct,
    * just not cheaper. */
  def refresh(spark: SparkSession, table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "stats index needs at least one column")
    val dir = statsDir(table)
    // file LISTS are driver control-plane (|files| strings, not data);
    // diffing them here — not in a join — is what keeps already-indexed
    // files' BYTES out of the scan below
    // the staged write below fully materializes the merged manifest
    // BEFORE publish swaps the directory, so the old rows stay
    // readable with no checkpoint
    val known = spark.read.parquet(dir)
    // normalize before diffing: _metadata.file_path says file:///x,
    // Hadoop Path.toUri says file:/x — same file, different spelling
    // (empty vs null URI authority survives a Path round-trip, so
    // compare scheme/authority-free paths; one table = one filesystem)
    def norm(s: String) =
      org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
        new org.apache.hadoop.fs.Path(java.net.URI.create(s))).toString
    val knownRaw = known.select("file").collect().map(_.getString(0))
    val knownNorm = knownRaw.map(norm).toSet
    val live = listDataFiles(spark, table) // original URIs — scan paths
    val liveNorm = live.map(norm)
    val newFiles = live.filter(f => !knownNorm.contains(norm(f))).toSeq
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))
    }
    val keepRaw = knownRaw.filter(f => liveNorm.contains(norm(f))).toSeq
    // semi-join, not isin: a million-file table would otherwise inline
    // a million-element In() expression into the plan
    import spark.implicits._
    val keep = known.join(
      spark.createDataset(keepRaw).toDF("file"), Seq("file"), "left_semi")
    val merged =
      if (newFiles.isEmpty) keep
      else keep.unionByName(
        // basePath keeps hive partition columns resolvable when the
        // index covers one (a date-partitioned table indexing its date)
        spark.read.option("basePath", table).parquet(newFiles: _*)
          .select(col("_metadata.file_path").as("file"), col("*"))
          .groupBy("file")
          .agg(aggs.head, aggs.tail: _*))
    writeManifest(spark, merged, dir)
  }

  private def bloomDir(table: String, c: String) = s"$table/_graft_bloom/$c"

  /** Per-file BLOOM index for point lookups — the complement of the
    * min/max manifest. Range stats prune only when the layout clusters
    * the column; a high-cardinality key in a hash-laid table spans
    * every file's [min,max], yet each VALUE still lives in few files.
    * A per-file bloom (Spark's own `bloom_filter_agg` over
    * `xxhash64(c)` — the machinery InjectRuntimeFilter plants in
    * joins) answers "which files might hold id = X" at the driver:
    * false positives cost one extra file scan, never correctness.
    * Delta's bloom-filter index is this exact trade. Rebuild after
    * layout rewrites, like [[build]]. */
  def buildBloom(spark: SparkSession, table: String, c: String,
      expectedItemsPerFile: Long = 1L << 20, numBits: Long = 1L << 23): Unit = {
    writeManifest(spark,
      spark.read.parquet(table)
        .select(col("_metadata.file_path").as("file"), col(c))
        .groupBy("file")
        .agg(expr(s"bloom_filter_agg(xxhash64($c), " +
          s"${expectedItemsPerFile}L, ${numBits}L)").as("bloom"))
        // sizing rides in the manifest so rebuilds preserve it
        .withColumn("items", lit(expectedItemsPerFile))
        .withColumn("bits", lit(numBits)),
      bloomDir(table, c))
  }

  /** Files whose bloom for `c` might contain `value` (+ total count).
    * `value` must be the column's type — the probe hashes it exactly
    * as [[buildBloom]] hashed the rows. */
  def pruneFilesEq(spark: SparkSession, table: String, c: String,
      value: Any): (Seq[String], Int) = {
    // the probe happens on the DRIVER: might_contain() only accepts a
    // constant bloom (it's built for runtime filters), and the
    // manifest is |files| rows of control plane anyway — deserialize
    // each sketch and test locally. The probe hash must be the exact
    // xxhash64 the build aggregated, so compute it with the same
    // expression.
    val hash = spark.range(1).select(xxhash64(lit(value))).head.getLong(0)
    val rows = spark.read.parquet(bloomDir(table, c)).collect()
    val kept = rows.filter { r =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
        .mightContainLong(hash)
    }.map(_.getString(0)).toSeq
    (kept, rows.length)
  }

  /** Point-lookup scan over only the files that might hold
    * `c = value`, with the predicate re-applied. */
  def prunedReadEq(spark: SparkSession, table: String, c: String,
      value: Any): DataFrame = {
    val (files, _) = pruneFilesEq(spark, table, c, value)
    if (files.isEmpty) spark.read.parquet(table).filter(lit(false))
    else spark.read.option("basePath", table).parquet(files: _*)
      .filter(col(c) === lit(value))
  }

  /** Data files whose `[min,max]` for `c` intersects `[lo, hi]`,
    * plus the total file count (for observability/specs). */
  def pruneFiles(
      spark: SparkSession, table: String, c: String,
      lo: Any, hi: Any): (Seq[String], Int) = {
    val stats = spark.read.parquet(statsDir(table))
    val total = stats.count().toInt
    val kept = stats
      .filter(col(s"${c}__max") >= lit(lo) && col(s"${c}__min") <= lit(hi))
      .select("file")
      .collect().map(_.getString(0)).toSeq
    (kept, total)
  }

  /** Scan of only the files that can hold `c ∈ [lo, hi]`, with the
    * predicate re-applied (skipping prunes files, not rows). Returns
    * an empty frame with the table's schema when nothing survives. */
  def prunedRead(
      spark: SparkSession, table: String, c: String,
      lo: Any, hi: Any): DataFrame = {
    val (files, _) = pruneFiles(spark, table, c, lo, hi)
    val pred = col(c) >= lit(lo) && col(c) <= lit(hi)
    if (files.isEmpty)
      spark.read.parquet(table).filter(lit(false))
    // basePath keeps hive partition columns in the schema when the
    // table is directory-partitioned (an explicit file list would
    // otherwise drop them)
    else spark.read.option("basePath", table).parquet(files: _*).filter(pred)
  }
}
