package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ingestion surface of the reference (ingest-dag.sql COPY INTO
  * tasks): scan a parquet stage laid out as
  * `<root>/<feed>/yyyy=YYYY/mm=MM/dd=DD/part-*.parquet`, recover the
  * partition columns from the FILE PATH (not the file contents — the
  * reference's `metadata$filename` regexes, ingest-dag.sql:8-33),
  * NULLIF the hive default-partition sentinel, and derive
  * `metadata_date` with a failure-tolerant cast.
  *
  * Unlike Spark's built-in partition discovery this works on stages the
  * writer didn't register as hive-partitioned, tolerates
  * `__HIVE_DEFAULT_PARTITION__`, and keeps the path parse in the plan
  * (input_file_name is evaluated at scan time; the rest is codegen'd
  * projection). Date-range predicates on yyyy/mm/dd prune at the file
  * listing via pushed filters on the derived columns when the stage IS
  * hive-registered; for raw stages the filter still short-circuits
  * per-file since the path columns are constant within a file.
  */
object RawLoader {

  val Sentinel = "__HIVE_DEFAULT_PARTITION__"

  /** Object-store stage — the Spark-side mirror of the reference's
    * STORAGE INTEGRATION + STAGE + FILE FORMAT DDL
    * (aws-s3-integration.sql:1-17). The mapping:
    *
    *   - STORAGE INTEGRATION (TYPE=EXTERNAL_STAGE, PROVIDER='S3',
    *     STORAGE_AWS_ROLE_ARN) → s3a assumed-role credential config.
    *     Snowflake holds the role trust; on Spark the equivalent is
    *     `fs.s3a.assumed.role.arn` + the AssumedRole provider, set
    *     bucket-scoped (`fs.s3a.bucket.<b>.…`) so one session can
    *     read stages in different accounts.
    *   - STORAGE_ALLOWED_LOCATIONS → client-side prefix check at
    *     read time ([[stageLoad]] refuses paths outside the list);
    *     server-side enforcement stays with the bucket policy.
    *   - STAGE.URL → [[Stage.url]]; feeds resolve under it exactly
    *     like `@stage/feed` path references.
    *   - FILE FORMAT (TYPE=PARQUET COMPRESSION=AUTO) → the reader
    *     format; parquet compression is self-describing, so AUTO is
    *     the only behavior Spark has.
    *
    * The sandbox has no object store, so the s3a keys are exercised
    * as configuration only (spec asserts they land in the Hadoop
    * conf); `file:`/local stage urls take the identical read path.
    */
  final case class Stage(
      url: String,
      roleArn: Option[String] = None,
      allowedLocations: Seq[String] = Nil,
      format: String = "parquet")

  /** Applies the stage's credential config to the session's Hadoop
    * conf (idempotent; bucket-scoped when the url is s3a://). */
  def configureStage(spark: SparkSession, stage: Stage): Unit =
    stage.roleArn.foreach { arn =>
      val prefix = "^s3a://([^/]+)".r.findFirstMatchIn(stage.url)
        .map(m => s"fs.s3a.bucket.${m.group(1)}.").getOrElse("fs.s3a.")
      val conf = spark.sparkContext.hadoopConfiguration
      conf.set(prefix + "assumed.role.arn", arn)
      conf.set(prefix + "aws.credentials.provider",
        "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider")
    }

  /** Reads `<stage.url>/<feed>` with path-partition recovery, after
    * applying credentials and enforcing STORAGE_ALLOWED_LOCATIONS.
    * The allowlist matches on PATH boundaries (an allowed
    * `s3a://bucket` does not admit `s3a://bucket-evil`), and the feed
    * is a relative subpath — no traversal, no absolute override. */
  def stageLoad(spark: SparkSession, stage: Stage, feed: String): DataFrame = {
    require(stage.allowedLocations.isEmpty || stage.allowedLocations.exists { a =>
      val bound = a.stripSuffix("/")
      stage.url == bound || stage.url.startsWith(bound + "/")
    }, s"stage url ${stage.url} outside allowed locations ${stage.allowedLocations}")
    require(!feed.startsWith("/") && !feed.split('/').contains(".."),
      s"feed must be a relative subpath of the stage: $feed")
    require(stage.format == "parquet", s"unsupported stage format: ${stage.format}")
    configureStage(spark, stage)
    load(spark, stage.url, feed)
  }

  /** One hive path segment from an arbitrary path column — shared by
    * the file-scan loader below and any query that parses path-shaped
    * strings (see q_partition_extract). */
  def partFrom(path: org.apache.spark.sql.Column, pattern: String): org.apache.spark.sql.Column =
    nullif(regexp_extract(path, pattern, 1), lit(Sentinel))

  private def part(pattern: String): org.apache.spark.sql.Column =
    partFrom(input_file_name(), pattern)

  /** Reads every parquet file under `root` matching the feed subdir,
    * adding yyyy/mm/dd/metadata_date from the path. */
  def load(spark: SparkSession, root: String, feed: String): DataFrame =
    withPathCols(spark.read
      .option("recursiveFileLookup", "true") // ignore writer-side partition registration
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$root/$feed"))

  /** The path-recovery projection shared by [[load]] and [[copyInto]]. */
  private def withPathCols(df: DataFrame): DataFrame =
    df
      .withColumn("yyyy", part(".*/yyyy=([^/]+)/.*"))
      .withColumn("mm", part(".*/mm=([^/]+)/.*"))
      .withColumn("dd", part(".*/dd=([^/]+)/.*"))
      .withColumn("metadata_date",
        expr("try_cast(concat(yyyy, '-', mm, '-', dd) AS DATE)"))

  /** Outcome of one [[copyInto]] run (the reference surfaces the same
    * numbers per COPY statement). */
  final case class CopyResult(filesLoaded: Long, filesSkipped: Long, rowsLoaded: Long)

  private val FileNameSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file_name",
      org.apache.spark.sql.types.StringType, nullable = false)))

  /** One ledger row per loaded file. */
  private val LedgerSchema = FileNameSchema
    .add("run_id", org.apache.spark.sql.types.StringType, nullable = false)
    .add("loaded_at", org.apache.spark.sql.types.TimestampType, nullable = false)
    .add("run_rows", org.apache.spark.sql.types.LongType, nullable = false)

  /** The ledger is only ever written by [[copyInto]], so its schema is
    * known: reading with it skips the footer-reading job that schema
    * inference launches on every read. */
  private def readLedger(spark: SparkSession, ledgerPath: String): DataFrame =
    spark.read.schema(LedgerSchema).parquet(ledgerPath)

  /** Snowflake `COPY INTO`'s idempotence unit is the FILE: every load
    * is recorded in load-history, and re-running the COPY (ingest
    * re-triggers, the one-shot backfill of ingest-backfill.sql replayed
    * over a partially loaded day) silently SKIPS files already loaded
    * (reference: ingest-dag.sql:6-58 — the tasks re-run the same COPY
    * every 4 hours over an append-only stage). This is that ledger for
    * a Spark lake:
    *
    *   - candidate files = recursive `*.parquet` listing under the
    *     feed — the same driver-side metadata walk Spark's own
    *     FileIndex performs for ANY read of the path, not a data scan;
    *   - already-loaded = the ledger parquet (one row per loaded file),
    *     diffed against the candidates by ANTI-JOIN so the full load
    *     history never sits in driver memory however long the feed
    *     lives ([[compactLedger]] keeps its file count flat);
    *   - only the difference is scanned, appended to the target, and
    *     recorded; skipped files are never opened.
    *
    * Row counts come from `observe()` on the single write pass — no
    * second scan.
    *
    * Commit protocol (the manifest pattern table formats use): each
    * run's rows land in their own `run=<id>` directory where the id is
    * a DETERMINISTIC digest of the loaded file set, and the ledger
    * append is the COMMIT. A crash between data write and ledger
    * append leaves an uncommitted run dir that (a) [[readCommitted]]
    * never sees (it reads only ledger-committed runs), (b) the retry
    * heals in place — the same fresh set digests to the same run id,
    * so the rewrite overwrites the partial dir before committing it —
    * and (c) [[vacuumUncommitted]] deletes if the retry never comes
    * (e.g. the stage files were withdrawn). Plain
    * `spark.read.parquet(target)` still works and sees at-least-once
    * semantics; the committed reader sees exactly-once. */
  def copyInto(spark: SparkSession, root: String, feed: String,
      targetPath: String, ledgerPath: String): CopyResult = {
    import scala.jdk.CollectionConverters._
    val feedPath = new org.apache.hadoop.fs.Path(s"$root/$feed")
    val fs = feedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a LocatedFileStatus reads each file's
    // permission, which the local file system without the native
    // Hadoop library gets by forking `ls -ld` once per file
    def walk(p: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator.flatMap(s => if (s.isDirectory) walk(s.getPath) else Iterator(s))
    val files = walk(feedPath)
      .map(_.getPath.toUri.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    val ledgerExists = fs.exists(new org.apache.hadoop.fs.Path(ledgerPath))
    // Candidate-vs-ledger diff as an ANTI-JOIN: the ledger (one row
    // per file EVER loaded — grows without bound) never materializes
    // on the driver; only the fresh set (this run's new files, small
    // in steady state) comes back. Driver memory stays bounded by the
    // stage listing Spark's own FileIndex would perform anyway.
    val candDf = spark.createDataFrame(
      files.map(org.apache.spark.sql.Row(_)).asJava, FileNameSchema)
    val freshDf =
      if (!ledgerExists) candDf
      else candDf.join(readLedger(spark, ledgerPath).select("file_name"),
        Seq("file_name"), "left_anti")
    val fresh = freshDf.collect().map(_.getString(0)).toSeq.sorted
    if (fresh.isEmpty) return CopyResult(0, files.size, 0)
    val runId = java.security.MessageDigest.getInstance("MD5")
      .digest(fresh.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val obs = new org.apache.spark.sql.Observation()
    withPathCols(spark.read.parquet(fresh: _*))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite") // heals a crashed run's partial dir
      .parquet(s"$targetPath/run=$runId")
    val rows = obs.get("rows").asInstanceOf[Long]
    // per-run values are row data, so no per-run literal enters the plan
    val loadedAt = java.sql.Timestamp.from(java.time.Instant.now())
    spark.createDataFrame(
        fresh.map(f => org.apache.spark.sql.Row(f, runId, loadedAt, rows)).asJava,
        LedgerSchema) // run_rows: rows of the RUN that loaded this file
      .coalesce(1)
      .write.mode("append").parquet(ledgerPath) // <- the commit point
    CopyResult(fresh.size, files.size - fresh.size, rows)
  }

  /** Compacts the load-history ledger. Every [[copyInto]] commit
    * appends one small parquet file, so a feed loaded every few hours
    * accretes thousands of tiny ledger files whose per-file open cost
    * eventually dominates the anti-join's read. Rewrites the ledger
    * into `numFiles` files, staged next to the live ledger and
    * published by atomic rename ([[LakeWriter.publish]]) — at every
    * instant a complete ledger exists on disk, so a crash anywhere
    * loses nothing and commit atomicity is preserved. Single-writer
    * assumption (as with COPY itself): run it from the same serialized
    * ingest DAG slot as copyInto, not concurrently with one. */
  def compactLedger(spark: SparkSession, ledgerPath: String,
      numFiles: Int = 1): Unit = {
    val staged = LakeWriter.stagingPath(ledgerPath)
    readLedger(spark, ledgerPath).repartition(numFiles)
      .write.mode("overwrite").parquet(staged)
    LakeWriter.publish(spark, staged, ledgerPath)
  }

  /** Exactly-once read of a [[copyInto]] target: only runs the ledger
    * committed. The ledger is metadata-sized (a row per loaded file);
    * its distinct run ids select whole directories, so this is a
    * partition-pruned read, not a row filter. */
  def readCommitted(spark: SparkSession, targetPath: String,
      ledgerPath: String): DataFrame = {
    val runs = readLedger(spark, ledgerPath)
      .select("run_id").distinct().collect().map(_.getString(0))
    require(runs.nonEmpty, s"no committed runs in $ledgerPath")
    spark.read.parquet(runs.toIndexedSeq.map(r => s"$targetPath/run=$r"): _*)
  }

  /** Deletes run directories with no ledger commit (crashed loads whose
    * retry never came). Returns the deleted run ids. */
  def vacuumUncommitted(spark: SparkSession, targetPath: String,
      ledgerPath: String): Seq[String] = {
    val tp = new org.apache.hadoop.fs.Path(targetPath)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tp)) return Seq.empty
    val committed = readLedger(spark, ledgerPath)
      .select("run_id").distinct().collect().map(_.getString(0)).toSet
    val orphans = fs.listStatus(tp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run="))
      .map(_.getPath)
      .filterNot(p => committed.contains(p.getName.stripPrefix("run=")))
    orphans.foreach(p => fs.delete(p, true))
    orphans.map(_.getName.stripPrefix("run="))
  }
}
