package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain mapping of the driver's synthetic tables onto the reference's
  * viewing-data model (reference: ingest-ddl.sql:1-68, the ACR / STB /
  * GEO_WEIGHTS raw tables).
  *
  * The `events` table plays the role of the raw exposure feed
  * (`user_id`≈smba_id, `ts`≈exposure timestamps, `event_type`≈content,
  * `floor(value)`≈duration seconds) and `customer` seeds a deterministic
  * weekly panel-weight table (`c_custkey`≈smba_id, household =
  * c_custkey/2, weight = floor(abs(c_acctbal))). Weights are integral so
  * weighted aggregates stay exact under any parallel addition order.
  *
  * Everything here is a plain projection/filter — Catalyst pushes the
  * column pruning and predicates into the parquet scans, so at 100 TB the
  * scan reads only the 6 referenced columns of the event feed.
  */
object ViewingData {

  /** Loads one synthetic table, normalizing the event-time column to
    * ONE type — `ts: TimestampType` (an instant; wall-clock in this
    * data is UTC) — no matter how the driver's generator chose to
    * encode it in parquet. Observed encodings across regenerations:
    *
    *  - TIMESTAMP(NANOS): vanilla Spark rejects it
    *    (PARQUET_TYPE_ILLEGAL) — read nanos as long
    *    (`nanosAsLong`, set here so it also holds in the driver's own
    *    session) and rebuild a microsecond timestamp;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads
    *    TIMESTAMP_NTZ — shift the wall-clock into an instant AS UTC
    *    (`convert_timezone` into the session zone, then cast), which
    *    is session-timezone-independent and matches how DuckDB's
    *    naive reading of the same file compares under `epoch_us`.
    *
    * Downstream operators (range-join bucketing, session_window,
    * unix_micros) all assume a zoned TimestampType; SourceContractSpec
    * pins this post-load schema so the next generator drift fails in
    * one named place instead of three queries deep.
    *
    * The RESOLVED relation is memoized per (session, dir, name) — the
    * catalog role Spark's metastore-backed tables play for managed
    * data. A bare `spark.read.parquet(path)` re-resolves the
    * DataSource, re-lists the directory, and re-reads the footer for
    * schema inference on EVERY call — ~70-90 ms per call, measured in
    * optimization round 12 (OPTIMIZATION_r12.md), paid thousands of
    * times across a bench/verify run for paths whose contents never
    * change within a session. This caches ONLY metadata (the analyzed logical plan +
    * file listing): every execution still scans the parquet data —
    * nothing about results or computed intermediates is reused.
    * Contract, unchanged from what callers already assumed: a source
    * dir is immutable for the lifetime of a session (every caller —
    * registry queries, Verify, Bench, Sweep replicas, specs — reads
    * generated-once inputs; Sweep builds its replica dirs BEFORE the
    * first read and pins them with _SWEEP_META). The immutability
    * contract is ENFORCEABLE, not just documented (r12 ADVICE): any
    * future caller that rewrites `$dir/$name.parquet` mid-session must
    * call [[invalidate]] (per dir) or [[clearCache]]; entries whose
    * session has been STOPPED are purged on every cache miss, so test
    * JVMs that cycle sessions don't retain dead plans for the JVM
    * lifetime (misses are rare after warm-up, and a stopped session
    * can never be a future lookup key, so purge-on-miss bounds growth
    * without a per-hit scan); and at most [[MaxCachedRelations]]
    * entries are kept, evicting the oldest, because a long-lived
    * driver (cron, TaskDag) reading a new landed dir every run would
    * otherwise keep one plan and file listing per run forever. */
  val MaxCachedRelations = 64

  private val relCache =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame]()

  /** Drops every cached relation under `dir` — the hook anything that
    * rewrites a source dir mid-session must call. */
  def invalidate(dir: String): Unit = relCache.synchronized {
    relCache.keySet.removeIf(_._2 == dir)
  }

  /** Drops the whole relation cache (all sessions, all dirs). */
  def clearCache(): Unit = relCache.synchronized(relCache.clear())

  private[graft] def cachedRelations: Int = relCache.synchronized(relCache.size)

  private[graft] def isCached(spark: SparkSession, dir: String, name: String): Boolean =
    relCache.synchronized(relCache.containsKey((spark, dir, name)))

  /** Cache lookup; a miss resolves outside the lock (it lists files and
    * reads footers), then inserts, purging stopped sessions and the
    * oldest entries past the bound. */
  private def cached(key: (SparkSession, String, String))(resolve: => DataFrame): DataFrame =
    Option(relCache.synchronized(relCache.get(key))).getOrElse {
      val df = resolve
      relCache.synchronized {
        relCache.keySet.removeIf(_._1.sparkContext.isStopped)
        val kept = relCache.putIfAbsent(key, df)
        val it = relCache.keySet.iterator()
        while (relCache.size > MaxCachedRelations) { it.next(); it.remove() }
        Option(kept).getOrElse(df)
      }
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cached((spark, dir, name)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (!df.columns.contains("ts")) df
      else df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // field-wise rebuild with an explicit UTC zone — a
          // convert-into-session-zone round-trip would mis-shift rows
          // whose local wall clock falls in a DST overlap
          df.withColumn("ts",
            graft.functions.TimeFunctions.ntzWallClockAsUtc(col("ts")))
        case _ => df
      }
    }

  /** Epoch seconds (UTC, floor) — the reference keeps exposure timestamps
    * as NUMBER(38,0) unix seconds (ingest-ddl.sql:4-5). */
  private def ep(c: String) = unix_timestamp(col(c))

  /** Column-complete raw mapping (ingest-ddl.sql ACR 28 cols / STB 26):
    * every reference column, derived deterministically from the event
    * feed so the DuckDB oracle can reproduce each value bit-exactly.
    * Catalyst prunes unused ones at the scan, so full width is free
    * for queries that project a subset. */
  private[graft] def normalized(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").select(
      col("event_id"),
      col("user_id").cast("string").as("smba_id"),
      concat(lit("i-"), col("event_id").cast("string")).as("intermediate_id"),
      col("event_type").as("content_id"),
      upper(col("event_type")).as("title"),
      floor(col("value")).cast("long").as("duration"),
      ep("ts").as("exposure_start_ts"),
      (ep("ts") + floor(col("value")).cast("long")).as("exposure_end_ts"),
      when(col("event_type") === "view", lit("program"))
        .when(col("event_type").isin("click", "purchase"), lit("ad"))
        .otherwise(lit("system")).as("content_type"),
      concat(upper(col("event_type")), lit(" E"),
        (col("event_id") % 24 + 1).cast("string")).as("episode_title"),
      (col("user_id") % 5 + 1).cast("string").as("season"),
      (col("event_id") % 24 + 1).cast("string").as("episode"),
      concat(col("event_type"), lit(" description")).as("description"),
      concat(lit("[\"g"), (col("event_id") % 3).cast("string"),
        lit("\",\"g"), (col("user_id") % 4).cast("string"), lit("\"]")).as("genres"),
      date_sub(to_date(col("ts")), (col("event_id") % 365).cast("int")).as("release_date"),
      concat(lit("net-"), (col("event_id") % 7).cast("string")).as("network"),
      (col("event_id") % 7).cast("string").as("network_id"),
      concat(lit("CS-"), (col("user_id") % 26).cast("string")).as("affiliate_call_sign"),
      (ep("ts") - ep("ts") % 1800).as("scheduled_program_start_ts"),
      (ep("ts") - ep("ts") % 1800 + 1800).as("scheduled_program_end_ts"),
      (ep("ts") % 1800).as("channel_content_offset_s"),
      (floor(col("value")).cast("long") % 600).as("program_content_offset_s"),
      concat(lit("dma-"), (col("user_id") % 5).cast("string")).as("dma"),
      (lit(10000) + col("user_id") % 90000).cast("string").as("zip"),
      date_format(col("ts"), "yyyy").as("yyyy"),
      date_format(col("ts"), "MM").as("mm"),
      date_format(col("ts"), "dd").as("dd"),
      to_date(col("ts")).as("metadata_date"),
      regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("application"),
      col("event_type"))

  /** The event types the ACR-analog source carries; every other
    * non-null type is STB. */
  val AcrEventTypes: Seq[String] = Seq("view", "click", "purchase")

  /** ACR-analog source: the content-exposure event types, full 28-col
    * width incl. `application` and `release_date` (ingest-ddl.sql ACR). */
  def acr(spark: SparkSession, dir: String): DataFrame =
    normalized(spark, dir)
      .filter(col("event_type").isin(AcrEventTypes: _*))
      .drop("event_type")

  /** STB-analog source: remaining event types; the reference STB table
    * has neither APPLICATION nor RELEASE_DATE (ingest-ddl.sql:42-68,
    * etl-ddl-backfill.sql:45 `NULL AS application`). */
  def stb(spark: SparkSession, dir: String): DataFrame =
    normalized(spark, dir)
      .filter(!col("event_type").isin(AcrEventTypes: _*))
      .drop("event_type")
      .drop("application")
      .drop("release_date")

  /** Distinct panel Mondays observed in the feed (reference derives them
    * from geo_weights metadata_date where DAYOFWEEK=1,
    * etl-ddl-backfill.sql:1-10). */
  def panelMondays(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(date_trunc("week", col("ts")).cast("date").as("panel_monday"))
      .distinct()

  /** Weekly panel-weight snapshots: one row per (member, panel Monday),
    * household = custkey/2, integral weight (reference:
    * ingest-ddl.sql GEO_WEIGHTS: HH_ID, SMBA_ID, GEO_WEIGHT keyed by
    * metadata_date). Tiny relative to the event feed → broadcast side. */
  def geoWeights(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .crossJoin(panelMondays(spark, dir))
      .select(
        col("c_custkey").cast("string").as("smba_id"),
        concat(lit("hh-"), floor(col("c_custkey") / 2).cast("long").cast("string")).as("hh_id"),
        floor(abs(col("c_acctbal"))).cast("long").as("geo_weight"),
        col("panel_monday").as("metadata_date"))
}
