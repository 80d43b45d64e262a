package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Barrier
import graft.sources.ViewingData

/** One registry row per SURVEY.md §2 operator: the Spark implementation
  * and (when SQL-expressible) a DuckDB oracle over the same parquet
  * tables. Column names/types are aligned pairwise — the driver sorts
  * columns by name and hash-compares values. Double-typed aggregates
  * are rounded on BOTH sides to absorb summation-order FP jitter;
  * integral measures (durations, weights) keep sums exact.
  */
case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    ViewingData.table(spark, dir, name)

  /** Date columns serialize differently across parquet/pandas/DuckDB
    * readers (date32 vs datetime64) — emit ISO strings from BOTH the
    * Spark queries and the oracles so the driver's hash compare sees
    * one canonical representation. Internal pipeline stays DATE-typed. */
  private def datesAsStrings(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DateType
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == DateType) acc.withColumn(f.name, col(f.name).cast("string"))
      else acc
    }
  }

  // ---------------------------------------------------------------------
  // Shared oracle CTEs: the reference ETL chain re-expressed in DuckDB
  // SQL (semantically the correlated-subquery form of
  // etl-ddl-backfill.sql), over the same domain mapping as
  // sources.ViewingData / Pipeline.
  // ---------------------------------------------------------------------
  private[graft] val veCte: String =
    """WITH norm AS (
  SELECT event_id,
         CAST(user_id AS VARCHAR) AS smba_id,
         'i-' || CAST(event_id AS VARCHAR) AS intermediate_id,
         event_type AS content_id,
         upper(event_type) AS title,
         CAST(floor(value) AS BIGINT) AS duration,
         CAST(floor(epoch(ts)) AS BIGINT) AS exposure_start_ts,
         CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) AS exposure_end_ts,
         CASE WHEN event_type = 'view' THEN 'program'
              WHEN event_type IN ('click','purchase') THEN 'ad'
              ELSE 'system' END AS content_type,
         upper(event_type) || ' E' || CAST(event_id % 24 + 1 AS VARCHAR) AS episode_title,
         CAST(user_id % 5 + 1 AS VARCHAR) AS season,
         CAST(event_id % 24 + 1 AS VARCHAR) AS episode,
         event_type || ' description' AS description,
         '["g' || CAST(event_id % 3 AS VARCHAR) || '","g' || CAST(user_id % 4 AS VARCHAR) || '"]' AS genres,
         CAST(ts AS DATE) - CAST(event_id % 365 AS INTEGER) AS release_date,
         'net-' || CAST(event_id % 7 AS VARCHAR) AS network,
         CAST(event_id % 7 AS VARCHAR) AS network_id,
         'CS-' || CAST(user_id % 26 AS VARCHAR) AS affiliate_call_sign,
         CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 1800 AS scheduled_program_start_ts,
         CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 1800 + 1800 AS scheduled_program_end_ts,
         CAST(floor(epoch(ts)) AS BIGINT) % 1800 AS channel_content_offset_s,
         CAST(floor(value) AS BIGINT) % 600 AS program_content_offset_s,
         'dma-' || CAST(user_id % 5 AS VARCHAR) AS dma,
         CAST(10000 + user_id % 90000 AS VARCHAR) AS zip,
         strftime(ts, '%Y') AS yyyy,
         strftime(ts, '%m') AS mm,
         strftime(ts, '%d') AS dd,
         CAST(ts AS DATE) AS metadata_date,
         regexp_extract(props, '"k": (\d+)', 1) AS application,
         event_type
  FROM events),
acr AS (SELECT event_id, smba_id, intermediate_id, content_id, title, duration,
               exposure_start_ts, exposure_end_ts, content_type, episode_title,
               season, episode, description, genres, release_date, network,
               network_id, affiliate_call_sign, scheduled_program_start_ts,
               scheduled_program_end_ts, channel_content_offset_s,
               program_content_offset_s, dma, zip, yyyy, mm, dd,
               metadata_date, application
        FROM norm WHERE event_type IN ('view','click','purchase')),
stb AS (SELECT event_id, smba_id, intermediate_id, content_id, title, duration,
               exposure_start_ts, exposure_end_ts, content_type, episode_title,
               season, episode, description, genres, network,
               network_id, affiliate_call_sign, scheduled_program_start_ts,
               scheduled_program_end_ts, channel_content_offset_s,
               program_content_offset_s, dma, zip, yyyy, mm, dd,
               metadata_date
        FROM norm WHERE event_type NOT IN ('view','click','purchase')),
viewing_events AS (
  SELECT 'ACR' AS source_table, event_id, smba_id, content_id, title, application,
         content_type, episode_title, season, episode, network, zip, yyyy, mm, dd,
         duration, exposure_start_ts, exposure_end_ts, dma, metadata_date FROM acr
  UNION ALL
  SELECT 'STB', event_id, smba_id, content_id, title, CAST(NULL AS VARCHAR),
         content_type, episode_title, season, episode, network, zip, yyyy, mm, dd,
         duration, exposure_start_ts, exposure_end_ts, dma, metadata_date FROM stb),
mondays AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS panel_monday FROM events),
windows AS (SELECT panel_monday, panel_monday - 28 AS window_start,
                   panel_monday - 1 AS window_end FROM mondays),
geo_weights AS (
  SELECT CAST(c_custkey AS VARCHAR) AS smba_id,
         'hh-' || CAST(c_custkey // 2 AS VARCHAR) AS hh_id,
         CAST(floor(abs(c_acctbal)) AS BIGINT) AS geo_weight,
         panel_monday AS metadata_date
  FROM customer CROSS JOIN mondays),
with_panel AS (
  SELECT e.*, (SELECT MAX(w.panel_monday) FROM windows w
               WHERE e.metadata_date BETWEEN w.window_start AND w.window_end) AS panel_monday
  FROM viewing_events e),
weighted AS (
  SELECT e.source_table, e.event_id, e.smba_id, e.content_id, e.title, e.application,
         e.content_type, e.episode_title, e.season, e.episode, e.network, e.zip,
         e.yyyy, e.mm, e.dd,
         e.duration, e.exposure_start_ts, e.exposure_end_ts, e.dma, e.metadata_date,
         e.panel_monday, g.hh_id, g.geo_weight AS panel_weight
  FROM with_panel e
  LEFT JOIN geo_weights g ON g.smba_id = e.smba_id AND g.metadata_date = e.panel_monday
  WHERE e.panel_monday IS NOT NULL AND g.hh_id IS NOT NULL AND g.geo_weight IS NOT NULL)"""

  private val sessCte: String = veCte +
    """,
marked AS (
  SELECT *, exposure_start_ts - LAG(exposure_end_ts) OVER (
            PARTITION BY hh_id, title, content_id
            ORDER BY exposure_start_ts, exposure_end_ts, smba_id, event_id) AS gap_seconds
  FROM weighted),
breaks AS (SELECT *, CASE WHEN gap_seconds IS NULL OR gap_seconds > 300 THEN 1 ELSE 0 END
                     AS session_break FROM marked),
sess_ids AS (SELECT *, SUM(session_break) OVER (
             PARTITION BY hh_id, title, content_id
             ORDER BY exposure_start_ts, exposure_end_ts, smba_id, event_id) AS session_id
             FROM breaks),
sessions AS (
  SELECT hh_id, dma, source_table, application, title, content_id, panel_monday,
         CAST(session_id AS BIGINT) AS session_id, panel_weight,
         CAST(MIN(exposure_start_ts) AS BIGINT) AS session_start_ts,
         CAST(MAX(exposure_end_ts) AS BIGINT) AS session_end_ts,
         CAST(SUM(duration) AS BIGINT) AS total_duration
  FROM sess_ids
  GROUP BY hh_id, dma, source_table, application, title, content_id, panel_monday,
           session_id, panel_weight
  HAVING SUM(duration) >= 180)"""

  // ---------------------------------------------------------------------
  // A. Ingestion
  // ---------------------------------------------------------------------
  private val ingestCast = Q(
    "q_ingest_cast",
    (s, dir) => datesAsStrings(ViewingData.acr(s, dir)),
    Some(veCte + "\nSELECT * REPLACE (CAST(metadata_date AS VARCHAR) AS metadata_date, CAST(release_date AS VARCHAR) AS release_date) FROM acr"))

  private val partitionExtract = Q(
    "q_partition_extract",
    (s, dir) => {
      // Round-trip the reference's COPY INTO path extraction
      // (ingest-dag.sql:6-33): build the hive path a lake writer would
      // emit, then recover yyyy/mm/dd + metadata_date from it.
      val ev = t(s, dir, "events")
      val path = concat(
        lit("events/yyyy="), date_format(col("ts"), "yyyy"),
        lit("/mm="), date_format(col("ts"), "MM"),
        lit("/dd="), date_format(col("ts"), "dd"),
        lit("/part-0.parquet"))
      ev.select(col("event_id"), path.as("path"))
        .select(
          col("event_id"),
          graft.sources.RawLoader.partFrom(col("path"), ".*/yyyy=(\\d{4})/.*").as("yyyy"),
          graft.sources.RawLoader.partFrom(col("path"), ".*/mm=(\\d{2})/.*").as("mm"),
          graft.sources.RawLoader.partFrom(col("path"), ".*/dd=(\\d{2})/.*").as("dd"))
        .withColumn("metadata_date",
          expr("CAST(try_cast(concat(yyyy, '-', mm, '-', dd) AS DATE) AS STRING)"))
    },
    Some("""WITH paths AS (
  SELECT event_id,
         'events/yyyy=' || strftime(ts, '%Y') || '/mm=' || strftime(ts, '%m') ||
         '/dd=' || strftime(ts, '%d') || '/part-0.parquet' AS path
  FROM events),
extracted AS (
  SELECT event_id,
         nullif(regexp_extract(path, '.*/yyyy=(\d{4})/.*', 1), '__HIVE_DEFAULT_PARTITION__') AS yyyy,
         nullif(regexp_extract(path, '.*/mm=(\d{2})/.*', 1), '__HIVE_DEFAULT_PARTITION__') AS mm,
         nullif(regexp_extract(path, '.*/dd=(\d{2})/.*', 1), '__HIVE_DEFAULT_PARTITION__') AS dd
  FROM paths)
SELECT event_id, yyyy, mm, dd,
       CAST(try_cast(yyyy || '-' || mm || '-' || dd AS DATE) AS VARCHAR) AS metadata_date
FROM extracted"""))

  private val ingestReject = Q(
    "q_ingest_reject",
    (s, dir) => {
      // ON_ERROR=CONTINUE over a feed with planted malformed values:
      // ~1/13 durations get a stray character, ~1/17 dates are
      // invalid — deterministic, so the DuckDB twin plants identical
      // rows. Output: one row per INPUT row with its routing, so
      // valid+rejected reconcile to the input by construction
      // (rows_match checks exactly that).
      val raw = t(s, dir, "events").select(
        col("event_id"),
        when(col("event_id") % 13 === 0,
          concat(lit("x"), col("value").cast("string")))
          .otherwise(col("value").cast("string")).as("raw_duration"),
        when(col("event_id") % 17 === 0, lit("9999-99-99"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd")).as("raw_date"),
        col("user_id").cast("string").as("raw_user"))
      // Routing summary in ONE pass: marking + status projection over a
      // single scan. (Quality.tryIngest's two-frame split is the sink
      // API — QualitySpec covers it; a union of its two sides here
      // would scan the feed twice, the thing a 100-TB ingest can't do.)
      val marked = graft.operators.Quality.markRejects(raw, Seq(
        ("duration", col("raw_duration"), expr("try_cast(raw_duration AS DOUBLE)")),
        ("metadata_date", col("raw_date"), expr("try_cast(raw_date AS DATE)")),
        ("smba_id", col("raw_user"), expr("try_cast(raw_user AS BIGINT)"))))
      marked.select(
        col("event_id"),
        when(size(col("reject_reasons")) === 0, lit("valid"))
          .otherwise(lit("rejected")).as("status"),
        when(size(col("reject_reasons")) === 0, lit(null).cast("string"))
          .otherwise(concat_ws(",", col("reject_reasons"))).as("reasons"))
    },
    Some("""WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 13 = 0 THEN 'x' || CAST(value AS VARCHAR)
              ELSE CAST(value AS VARCHAR) END AS raw_duration,
         CASE WHEN event_id % 17 = 0 THEN '9999-99-99'
              ELSE strftime(ts, '%Y-%m-%d') END AS raw_date,
         CAST(user_id AS VARCHAR) AS raw_user
  FROM events),
checked AS (
  SELECT event_id,
         raw_duration IS NULL OR TRY_CAST(raw_duration AS DOUBLE) IS NOT NULL AS ok_duration,
         raw_date IS NULL OR TRY_CAST(raw_date AS DATE) IS NOT NULL AS ok_date,
         raw_user IS NULL OR TRY_CAST(raw_user AS BIGINT) IS NOT NULL AS ok_user
  FROM raw)
SELECT event_id,
       CASE WHEN ok_duration AND ok_date AND ok_user THEN 'valid' ELSE 'rejected' END AS status,
       CASE WHEN ok_duration AND ok_date AND ok_user THEN NULL
            ELSE concat_ws(',',
                 CASE WHEN NOT ok_duration THEN 'duration' END,
                 CASE WHEN NOT ok_date THEN 'metadata_date' END,
                 CASE WHEN NOT ok_user THEN 'smba_id' END) END AS reasons
FROM checked"""))

  private val ingestValidate = Q(
    "q_ingest_validate",
    (s, dir) => {
      // VALIDATION_MODE=RETURN_ERRORS over the same planted-error feed
      // as q_ingest_reject: dry-run the casts, emit one row per cast
      // error, load nothing. A row failing BOTH casts yields two rows
      // (Snowflake reports each error), which the oracle's per-cast
      // UNION ALL mirrors exactly.
      val raw = t(s, dir, "events").select(
        col("event_id"),
        when(col("event_id") % 13 === 0,
          concat(lit("x"), col("value").cast("string")))
          .otherwise(col("value").cast("string")).as("raw_duration"),
        when(col("event_id") % 17 === 0, lit("9999-99-99"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd")).as("raw_date"))
      graft.operators.Quality.validationErrors(raw, Seq(
        ("duration", col("raw_duration"), expr("try_cast(raw_duration AS DOUBLE)")),
        ("metadata_date", col("raw_date"), expr("try_cast(raw_date AS DATE)"))),
        Seq(col("event_id")))
    },
    Some("""WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 13 = 0 THEN 'x' || CAST(value AS VARCHAR)
              ELSE CAST(value AS VARCHAR) END AS raw_duration,
         CASE WHEN event_id % 17 = 0 THEN '9999-99-99'
              ELSE strftime(ts, '%Y-%m-%d') END AS raw_date
  FROM events)
SELECT event_id, 'duration' AS error_column, raw_duration AS raw_value
FROM raw WHERE raw_duration IS NOT NULL AND TRY_CAST(raw_duration AS DOUBLE) IS NULL
UNION ALL
SELECT event_id, 'metadata_date' AS error_column, raw_date AS raw_value
FROM raw WHERE raw_date IS NOT NULL AND TRY_CAST(raw_date AS DATE) IS NULL"""))

  // ---------------------------------------------------------------------
  // B. Reference ETL
  // ---------------------------------------------------------------------
  private val unionSources = Q(
    "q_union_sources",
    (s, dir) => datesAsStrings(Pipeline.viewingEvents(s, dir)),
    Some(veCte + "\nSELECT * REPLACE (CAST(metadata_date AS VARCHAR) AS metadata_date) FROM viewing_events"))

  private val panelWindows = Q(
    "q_panel_windows",
    (s, dir) => datesAsStrings(Pipeline.panelWindows(s, dir)),
    Some(veCte + "\nSELECT CAST(panel_monday AS VARCHAR) AS panel_monday, CAST(window_start AS VARCHAR) AS window_start, CAST(window_end AS VARCHAR) AS window_end FROM windows"))

  private val panelAsOf = Q(
    "q_panel_asof",
    (s, dir) => datesAsStrings(Pipeline.withPanel(s, dir)
      .select("event_id", "metadata_date", "panel_monday")),
    Some(veCte + "\nSELECT event_id, CAST(metadata_date AS VARCHAR) AS metadata_date, CAST(panel_monday AS VARCHAR) AS panel_monday FROM with_panel"))

  private val weightedEvents = Q(
    "q_weighted_events",
    (s, dir) => datesAsStrings(Pipeline.weightedEvents(s, dir)),
    Some(veCte + "\nSELECT * REPLACE (CAST(metadata_date AS VARCHAR) AS metadata_date, CAST(panel_monday AS VARCHAR) AS panel_monday) FROM weighted"))

  /** SCD2 dimension build from weekly snapshots (the warehouse pattern
    * the reference's geo_weights feed implies: weekly panel-weight
    * snapshots → effective-dated history for as-of joins). Change
    * compression (LAG) then range closing (LEAD over the survivors) —
    * both windows share hashpartitioning(smba_id), so the whole build
    * is ONE shuffle of the snapshot table. The tracked weight gets a
    * deterministic weekly perturbation (epoch-day mod 3) because the
    * synthetic weight is constant per member — the oracle reproduces
    * it, so compression has real work to verify. */
  private val scd2Weights = Q(
    "q_scd2_weights",
    (s, dir) => {
      val w1 = Window.partitionBy("smba_id").orderBy("metadata_date")
      val snaps = ViewingData.geoWeights(s, dir)
        .withColumn("w",
          col("geo_weight") +
            pmod(datediff(col("metadata_date"), to_date(lit("1970-01-01"))), lit(3)))
      val changed = snaps
        .withColumn("prev_w", lag("w", 1).over(w1))
        .filter(col("prev_w").isNull || col("w") =!= col("prev_w"))
      datesAsStrings(changed
        .withColumn("effective_to", date_sub(lead("metadata_date", 1).over(w1), 1))
        .select(
          col("smba_id"), col("hh_id"), col("w").cast("long").as("weight"),
          col("metadata_date").as("effective_from"),
          col("effective_to"),
          col("effective_to").isNull.as("is_current")))
    },
    Some(veCte + """,
snaps AS (
  SELECT smba_id, hh_id,
         geo_weight + (metadata_date - DATE '1970-01-01') % 3 AS w,
         metadata_date
  FROM geo_weights),
changed AS (
  SELECT *, LAG(w) OVER (PARTITION BY smba_id ORDER BY metadata_date) AS prev_w
  FROM snaps),
scd AS (
  SELECT smba_id, hh_id, w, metadata_date AS effective_from,
         LEAD(metadata_date) OVER (PARTITION BY smba_id ORDER BY metadata_date) - 1
           AS effective_to
  FROM changed WHERE prev_w IS NULL OR w <> prev_w)
SELECT smba_id, hh_id, CAST(w AS BIGINT) AS weight,
       CAST(effective_from AS VARCHAR) AS effective_from,
       CAST(effective_to AS VARCHAR) AS effective_to,
       effective_to IS NULL AS is_current
FROM scd"""))

  /** BITEMPORAL as-of readout — the SCD2 family's second time axis
    * (Snowflake/SQL:2011 application-time + system-time): weekly
    * panel-weight versions carry BOTH a valid interval
    * [metadata_date, +7) and a transaction time (when the row was
    * recorded; every 5th member gets a +10 correction recorded
    * Monday+3). The query answers "what was member X's weight ON
    * valid date V, as the warehouse knew it AT transaction time T" for
    * two T's in one result: T = V ("as we knew it then" — the
    * correction, recorded later, is invisible) and T = now ("as we
    * know it now" — restated). The two readouts differing on exactly
    * the corrected members is what the hash check proves. Shape: the
    * valid-interval filter reduces to the covering week first; both
    * argmax-by-tx picks are windows over that already-small slice
    * sharing one smba_id partitioning; the as-of date is observed on
    * the snapshots' barrier job and applied as a literal (derived
    * from the data — no wall clock). */
  private val bitemporal = Q(
    "q_bitemporal",
    (s, dir) => {
      // control-plane-sized (|members| × |weeks|); checkpoint once —
      // base/correction/as-of branches otherwise re-instantiate the
      // customer × mondays build (Prof showed 6 scans of each table)
      val (snaps, firstWeek) = Barrier.materialize(ViewingData.geoWeights(s, dir),
        min("metadata_date"))
      val vDate = date_add(lit(firstWeek.get(0)).cast("date"), 9)
      val base = snaps.select(
        col("smba_id"),
        col("metadata_date").as("valid_from"),
        date_add(col("metadata_date"), 7).as("valid_to"),
        col("metadata_date").as("tx_from"),
        col("geo_weight"))
      val corr = snaps.filter(col("smba_id").cast("long") % 5 === 0)
        .select(
          col("smba_id"),
          col("metadata_date").as("valid_from"),
          date_add(col("metadata_date"), 7).as("valid_to"),
          date_add(col("metadata_date"), 3).as("tx_from"),
          (col("geo_weight") + 10).as("geo_weight"))
      val versions = base.unionByName(corr)
      val covering = versions
        .filter(col("valid_from") <= vDate && vDate < col("valid_to"))
        .withColumn("v_date", vDate)
      val byTx = Window.partitionBy("smba_id").orderBy(col("tx_from").desc)
      val thenV = covering.filter(col("tx_from") <= col("v_date"))
        .withColumn("rn", row_number().over(byTx)).filter(col("rn") === 1)
        .select(col("smba_id"), col("geo_weight").as("weight_as_known_then"))
      val nowV = covering
        .withColumn("rn", row_number().over(byTx)).filter(col("rn") === 1)
        .select(col("smba_id"), col("geo_weight").as("weight_as_known_now"))
      thenV.join(nowV, "smba_id")
    },
    Some("""WITH mondays AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS panel_monday FROM events),
snaps AS (
  SELECT CAST(c_custkey AS VARCHAR) AS smba_id, c_custkey,
         CAST(floor(abs(c_acctbal)) AS BIGINT) AS geo_weight,
         panel_monday AS metadata_date
  FROM customer CROSS JOIN mondays),
versions AS (
  SELECT smba_id, metadata_date AS valid_from, metadata_date + 7 AS valid_to,
         metadata_date AS tx_from, geo_weight FROM snaps
  UNION ALL
  SELECT smba_id, metadata_date, metadata_date + 7,
         metadata_date + 3, geo_weight + 10 FROM snaps WHERE c_custkey % 5 = 0),
vd AS (SELECT MIN(metadata_date) + 9 AS v_date FROM snaps),
covering AS (
  SELECT ver.*, vd.v_date FROM versions ver CROSS JOIN vd
  WHERE ver.valid_from <= vd.v_date AND vd.v_date < ver.valid_to),
then_v AS (
  SELECT smba_id, geo_weight AS weight_as_known_then FROM (
    SELECT smba_id, geo_weight,
           ROW_NUMBER() OVER (PARTITION BY smba_id ORDER BY tx_from DESC) AS rn
    FROM covering WHERE tx_from <= v_date) WHERE rn = 1),
now_v AS (
  SELECT smba_id, geo_weight AS weight_as_known_now FROM (
    SELECT smba_id, geo_weight,
           ROW_NUMBER() OVER (PARTITION BY smba_id ORDER BY tx_from DESC) AS rn
    FROM covering) WHERE rn = 1)
SELECT t.smba_id, t.weight_as_known_then, n.weight_as_known_now
FROM then_v t JOIN now_v n USING (smba_id)"""))

  private val sessionize = Q(
    "q_sessionize",
    (s, dir) => datesAsStrings(Pipeline.sessions(s, dir)),
    Some(sessCte + "\nSELECT * REPLACE (CAST(panel_monday AS VARCHAR) AS panel_monday) FROM sessions"))

  private val audienceMetrics = Q(
    "q_audience_metrics",
    (s, dir) => datesAsStrings(Pipeline.audienceMetrics(s, dir)),
    Some(sessCte + """,
per_hh AS (
  SELECT title, content_id, hh_id,
         MAX(panel_weight) AS hh_weight,
         COUNT(*) AS hh_sessions,
         SUM(panel_weight) AS hh_weighted_views,
         SUM(total_duration * panel_weight) AS hh_weighted_duration
  FROM sessions
  GROUP BY title, content_id, hh_id)
SELECT title, content_id,
       CAST(SUM(hh_weighted_views) AS BIGINT) AS weighted_views,
       CAST(COUNT(*) AS BIGINT) AS households,
       CAST(SUM(hh_weight) AS BIGINT) AS weighted_reach,
       CAST(SUM(hh_weighted_duration) AS BIGINT) AS weighted_duration,
       CAST(SUM(hh_weighted_views) AS DOUBLE) / CAST(NULLIF(SUM(hh_weight), 0) AS DOUBLE) AS frequency
FROM per_hh
GROUP BY title, content_id"""))

  private val incrementalMerge = Q(
    "q_incremental_merge",
    (s, dir) => datesAsStrings(Pipeline.incrementalMerge(s, dir)),
    Some(veCte + """,
max_d AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events),
target AS (SELECT v.* FROM viewing_events v, max_d WHERE v.metadata_date <= d - 7),
batch AS (SELECT v.* FROM viewing_events v, max_d WHERE v.metadata_date > d - 10),
merged AS (
  SELECT * FROM target
  UNION ALL
  SELECT * FROM batch b
  WHERE NOT EXISTS (SELECT 1 FROM target t
                    WHERE t.smba_id = b.smba_id
                      AND t.exposure_start_ts = b.exposure_start_ts))
SELECT * REPLACE (CAST(metadata_date AS VARCHAR) AS metadata_date) FROM merged"""))

  private val upsertMergeQ = Q(
    "q_upsert_merge",
    (s, dir) => datesAsStrings(Pipeline.upsertMerge(s, dir)),
    Some(veCte + """,
max_d AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events),
target AS (SELECT v.* FROM viewing_events v, max_d WHERE v.metadata_date <= d - 7),
batch0 AS (SELECT v.* REPLACE (v.duration + 1000000 AS duration)
           FROM viewing_events v, max_d WHERE v.metadata_date > d - 10),
latest AS (SELECT * EXCLUDE (rn) FROM (
  SELECT b.*, ROW_NUMBER() OVER (PARTITION BY smba_id, exposure_start_ts
                                 ORDER BY event_id DESC) AS rn
  FROM batch0 b) WHERE rn = 1),
merged AS (
  SELECT * FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM latest l
                    WHERE l.smba_id = t.smba_id
                      AND l.exposure_start_ts = t.exposure_start_ts)
  UNION ALL
  SELECT * FROM latest)
SELECT * REPLACE (CAST(metadata_date AS VARCHAR) AS metadata_date) FROM merged"""))

  private val affectedRebuild = Q(
    "q_affected_rebuild",
    (s, dir) => datesAsStrings(Pipeline.affectedRebuild(s, dir)),
    Some(veCte + """,
max_d AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events),
affected AS (SELECT DISTINCT hh_id, title, content_id
             FROM weighted, max_d WHERE metadata_date > d - 5),
scoped AS (SELECT w.* FROM weighted w
           WHERE EXISTS (SELECT 1 FROM affected a
                         WHERE a.hh_id = w.hh_id AND a.title = w.title
                           AND a.content_id = w.content_id)),
marked AS (
  SELECT *, exposure_start_ts - LAG(exposure_end_ts) OVER (
            PARTITION BY hh_id, title, content_id
            ORDER BY exposure_start_ts, exposure_end_ts, smba_id, event_id) AS gap_seconds
  FROM scoped),
breaks AS (SELECT *, CASE WHEN gap_seconds IS NULL OR gap_seconds > 300 THEN 1 ELSE 0 END
                     AS session_break FROM marked),
sess_ids AS (SELECT *, SUM(session_break) OVER (
             PARTITION BY hh_id, title, content_id
             ORDER BY exposure_start_ts, exposure_end_ts, smba_id, event_id) AS session_id
             FROM breaks)
SELECT hh_id, dma, source_table, application, title, content_id,
       CAST(panel_monday AS VARCHAR) AS panel_monday,
       CAST(session_id AS BIGINT) AS session_id, panel_weight,
       CAST(MIN(exposure_start_ts) AS BIGINT) AS session_start_ts,
       CAST(MAX(exposure_end_ts) AS BIGINT) AS session_end_ts,
       CAST(SUM(duration) AS BIGINT) AS total_duration
FROM sess_ids
GROUP BY hh_id, dma, source_table, application, title, content_id, panel_monday,
         session_id, panel_weight
HAVING SUM(duration) >= 180"""))

  private val watermarkQ = Q(
    "q_watermark",
    (s, dir) => datesAsStrings(Pipeline.watermark(s, dir)),
    Some(veCte + """
SELECT CAST(least(
  coalesce((SELECT MAX(metadata_date) FROM acr), DATE '1900-01-01'),
  coalesce((SELECT MAX(metadata_date) FROM stb), DATE '1900-01-01')
) AS VARCHAR) AS last_successful_run_date"""))

  private val controlTableQ = Q(
    "q_control_table",
    (s, dir) => datesAsStrings(Pipeline.controlTable(s, dir)),
    Some(veCte + """
SELECT 'raw_events_update' AS task_name,
       CAST(least(
         coalesce((SELECT MAX(metadata_date) FROM acr), DATE '1900-01-01'),
         coalesce((SELECT MAX(metadata_date) FROM stb), DATE '1900-01-01')
       ) AS VARCHAR) AS last_successful_run_date
UNION ALL
SELECT 'panel_windows_update',
       CAST(coalesce((SELECT MAX(metadata_date) FROM geo_weights), DATE '1900-01-01')
            AS VARCHAR)"""))

  private val panelWindowsMergeQ = Q(
    "q_panel_windows_merge",
    (s, dir) => datesAsStrings(Pipeline.panelWindowsMerge(s, dir)),
    Some(veCte + """,
cut AS (SELECT MAX(panel_monday) - 14 AS c FROM windows),
target AS (SELECT w.* FROM windows w, cut WHERE w.panel_monday <= cut.c),
batch AS (SELECT w.* FROM windows w, cut WHERE w.panel_monday > cut.c - 21)
SELECT CAST(panel_monday AS VARCHAR) AS panel_monday,
       CAST(window_start AS VARCHAR) AS window_start,
       CAST(window_end AS VARCHAR) AS window_end
FROM (SELECT * FROM target
      UNION ALL
      SELECT b.* FROM batch b ANTI JOIN target t USING (panel_monday))"""))

  // ---------------------------------------------------------------------
  // C. OLAP SQL surface (TPC-H tables)
  // ---------------------------------------------------------------------
  private val q1Agg = Q(
    "q1_agg",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
       round(CAST(SUM(l_quantity) AS DOUBLE), 4) AS sum_qty,
       round(CAST(SUM(l_extendedprice) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(AVG(l_quantity) AS DOUBLE), 6) AS avg_qty,
       round(CAST(AVG(l_discount) AS DOUBLE), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""))

  private val joinDims = Q(
    "q_join_dims",
    (s, dir) => {
      val region = t(s, dir, "region")
      val nation = t(s, dir, "nation")
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      orders
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          round(sum("o_totalprice"), 4).as("revenue"),
          count(lit(1)).as("order_cnt"),
          countDistinct("c_custkey").as("customer_cnt"))
    },
    Some("""SELECT r_name,
       round(CAST(SUM(o_totalprice) AS DOUBLE), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS order_cnt,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS customer_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name"""))

  private val joinFact = Q(
    "q_join_fact",
    (s, dir) => t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01"))
      .groupBy("o_orderpriority")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("line_cnt")),
    Some("""SELECT o_orderpriority,
       round(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS line_cnt
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o_orderpriority"""))

  private val topkWindow = Q(
    "q_topk_window",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"), col("rk"))
    },
    Some("""SELECT o_orderpriority, o_orderkey,
       round(CAST(o_totalprice AS DOUBLE), 4) AS o_totalprice, CAST(rk AS INTEGER) AS rk
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3"""))

  private val rollupQ = Q(
    "q_rollup",
    (s, dir) => {
      // Via the SQL surface (the reference is pure SQL): ROLLUP over a
      // broadcast dim join.
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql("""SELECT n_name, c_mktsegment,
                      count(*) AS customer_cnt,
                      round(sum(c_acctbal), 4) AS acctbal_sum
               FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
               GROUP BY ROLLUP (n_name, c_mktsegment)""")
    },
    Some("""SELECT n_name, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS customer_cnt,
       round(CAST(SUM(c_acctbal) AS DOUBLE), 4) AS acctbal_sum
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)"""))

  private val distinctQ = Q(
    "q_distinct",
    (s, dir) => t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(
        countDistinct("c_nationkey").as("nations"),
        count(lit(1)).as("customers"),
        round(sum("c_acctbal"), 4).as("acctbal_sum"),
        count(when(col("c_acctbal") > 0, 1)).as("positive_bal")),
    Some("""SELECT c_mktsegment,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nations,
       CAST(COUNT(*) AS BIGINT) AS customers,
       round(CAST(SUM(c_acctbal) AS DOUBLE), 4) AS acctbal_sum,
       CAST(COUNT(CASE WHEN c_acctbal > 0 THEN 1 END) AS BIGINT) AS positive_bal
FROM customer
GROUP BY c_mktsegment"""))

  private val semiAnti = Q(
    "q_semi_anti",
    (s, dir) => {
      val customer = t(s, dir, "customer")
      // nation is the preserved side of both left joins, so Spark cannot
      // build it; the per-nation counts on the right are what it broadcasts
      val nation = t(s, dir, "nation")
      val orderKeys = t(s, dir, "orders").select("o_custkey")
      val withO = customer.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("with_orders"))
      val withoutO = customer.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("without_orders"))
      nation
        .join(withO, col("n_nationkey") === withO("c_nationkey"), "left")
        .drop("c_nationkey")
        .join(withoutO, col("n_nationkey") === withoutO("c_nationkey"), "left")
        .drop("c_nationkey")
        .select(col("n_name"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
    },
    Some("""SELECT n_name,
       CAST(coalesce(SUM(CASE WHEN has_o THEN 1 END), 0) AS BIGINT) AS with_orders,
       CAST(coalesce(SUM(CASE WHEN NOT has_o THEN 1 END), 0) AS BIGINT) AS without_orders
FROM nation
LEFT JOIN (SELECT c_nationkey,
                  EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
           FROM customer) c ON n_nationkey = c_nationkey
GROUP BY n_name"""))

  private val pivotCase = Q(
    "q_pivot_case",
    (s, dir) => t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        round(sum(when(col("event_type") === "view", col("value")).otherwise(0d)), 4).as("view_value"),
        round(sum(when(col("event_type") === "click", col("value")).otherwise(0d)), 4).as("click_value"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0d)), 4).as("purchase_value"),
        count(when(col("event_type") === "error", 1)).as("errors"),
        count(when(col("event_type") === "signup", 1)).as("signups")),
    Some("""SELECT user_id,
       round(CAST(SUM(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS DOUBLE), 4) AS view_value,
       round(CAST(SUM(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS DOUBLE), 4) AS click_value,
       round(CAST(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS DOUBLE), 4) AS purchase_value,
       CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS errors,
       CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signups
FROM events
GROUP BY user_id"""))

  private val runningWindow = Q(
    "q_running_window",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
          .as("running_value"),
        round(avg("value").over(w.rowsBetween(-2, Window.currentRow)), 6).as("moving_avg3"))
    },
    Some("""SELECT event_id, user_id,
       round(CAST(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS running_value,
       round(CAST(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS moving_avg3
FROM events"""))

  private val percentiles = Q(
    "q_percentiles",
    (s, dir) => t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(
        round(expr("percentile(c_acctbal, 0.5)"), 6).as("median_bal"),
        round(expr("percentile(c_acctbal, 0.95)"), 6).as("p95_bal"),
        round(min("c_acctbal"), 4).as("min_bal"),
        round(max("c_acctbal"), 4).as("max_bal")),
    Some("""SELECT c_mktsegment,
       round(CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE), 6) AS median_bal,
       round(CAST(quantile_cont(c_acctbal, 0.95) AS DOUBLE), 6) AS p95_bal,
       round(CAST(MIN(c_acctbal) AS DOUBLE), 4) AS min_bal,
       round(CAST(MAX(c_acctbal) AS DOUBLE), 4) AS max_bal
FROM customer
GROUP BY c_mktsegment"""))

  private val stringFuncs = Q(
    "q_string_funcs",
    (s, dir) => t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("uname"),
      substring(col("p_name"), 2, 5).as("midname"),
      regexp_replace(col("p_name"), " ", "_").as("snake"),
      lpad(col("p_brand"), 12, "*").as("padded"),
      reverse(col("p_type")).as("rtype"),
      length(col("p_name")).cast("long").as("name_len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("joined")),
    Some("""SELECT p_partkey,
       upper(p_name) AS uname,
       substring(p_name, 2, 5) AS midname,
       replace(p_name, ' ', '_') AS snake,
       lpad(p_brand, 12, '*') AS padded,
       reverse(p_type) AS rtype,
       CAST(length(p_name) AS BIGINT) AS name_len,
       p_brand || '|' || p_type AS joined
FROM part"""))

  private val dateFuncs = Q(
    "q_date_funcs",
    (s, dir) => t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("yr"),
      month(col("o_orderdate")).cast("long").as("mo"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      quarter(col("o_orderdate")).cast("long").as("qtr"),
      (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
      last_day(col("o_orderdate")).cast("string").as("month_end"),
      datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("days_since_epoch95"),
      date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus30")),
    Some("""SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       CAST(day(o_orderdate) AS BIGINT) AS dom,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch95,
       CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30
FROM orders"""))

  private val cubeQ = Q(
    "q_cube",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql("""SELECT n_name, c_mktsegment,
                      count(*) AS customer_cnt,
                      round(sum(c_acctbal), 4) AS acctbal_sum
               FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
               GROUP BY CUBE (n_name, c_mktsegment)""")
    },
    Some("""SELECT n_name, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS customer_cnt,
       round(CAST(SUM(c_acctbal) AS DOUBLE), 4) AS acctbal_sum
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, c_mktsegment)"""))

  private val scalarSubquery = Q(
    "q_scalar_subquery",
    (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      // Correlated scalar subquery (Snowflake-SQL surface); MAX keeps
      // the threshold exact so boundary rows can't flip on FP
      // summation order.
      s.sql("""SELECT o_orderkey, o_orderpriority,
                      round(o_totalprice, 4) AS o_totalprice
               FROM orders_v o
               WHERE o_totalprice > (SELECT 0.9 * MAX(i.o_totalprice)
                                     FROM orders_v i
                                     WHERE i.o_orderpriority = o.o_orderpriority)""")
    },
    Some("""SELECT o_orderkey, o_orderpriority,
       round(CAST(o_totalprice AS DOUBLE), 4) AS o_totalprice
FROM orders o
WHERE o_totalprice > (SELECT 0.9 * MAX(i.o_totalprice)
                      FROM orders i
                      WHERE i.o_orderpriority = o.o_orderpriority)"""))

  private val setOps = Q(
    "q_set_ops",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val early = orders.filter(col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_custkey"))
      val late = orders.filter(col("o_orderdate") >= lit("1997-01-01"))
        .select(col("o_custkey"))
      val both = early.intersect(late).withColumn("bucket", lit("both"))
      val earlyOnly = early.except(late).withColumn("bucket", lit("early_only"))
      both.unionByName(earlyOnly)
        .groupBy("bucket").agg(count(lit(1)).as("customers"))
    },
    Some("""WITH early AS (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
late AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
tagged AS (
  SELECT o_custkey, 'both' AS bucket FROM (SELECT * FROM early INTERSECT SELECT * FROM late)
  UNION ALL
  SELECT o_custkey, 'early_only' FROM (SELECT * FROM early EXCEPT SELECT * FROM late))
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS customers
FROM tagged GROUP BY bucket"""))

  private val nestedTypes = Q(
    "q_nested_types",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(
        array_sort(collect_list(col("l_linenumber"))).as("line_numbers"),
        size(collect_list(col("l_linenumber"))).cast("long").as("n_lines"),
        max(struct(col("l_extendedprice"), col("l_linenumber")))
          .getField("l_linenumber").cast("long").as("priciest_line"),
        round(max(col("l_extendedprice")), 4).as("top_price"))
      .select(col("l_orderkey"),
        concat_ws(",", col("line_numbers")).as("line_numbers"),
        col("n_lines"), col("priciest_line"), col("top_price")),
    Some("""SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
       CAST(COUNT(l_linenumber) AS BIGINT) AS n_lines,
       CAST(MAX(struct_pack(p := l_extendedprice, l := l_linenumber)).l AS BIGINT) AS priciest_line,
       round(CAST(MAX(l_extendedprice) AS DOUBLE), 4) AS top_price
FROM lineitem
GROUP BY l_orderkey"""))

  private val asofJoin = Q(
    "q_asof_join",
    (s, dir) => {
      // Generic time-series as-of join (operators.AsOfJoin): each event
      // picks the member's latest order placed on or before the event
      // date. Right side pre-aggregated unique per (key, ts) so the
      // winner is defined.
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id").as("k"), to_date(col("ts")).as("t"))
      val r = t(s, dir, "orders")
        .select(col("o_custkey").as("k"),
          to_date(col("o_orderdate")).as("t"), col("o_orderkey"))
        .groupBy("k", "t").agg(max("o_orderkey").as("ref_order"))
        .withColumn("ref_odate", col("t").cast("string"))
      operators.AsOfJoin.nearestBefore(ev, r, Seq("k"), "t", Seq("ref_order", "ref_odate"))
        .select("event_id", "k", "ref_order", "ref_odate")
    },
    Some("""WITH ev AS (SELECT event_id, user_id AS k, CAST(ts AS DATE) AS t FROM events),
r AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS rt,
             CAST(MAX(o_orderkey) AS BIGINT) AS ref_order
      FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.k, r.ref_order, CAST(r.rt AS VARCHAR) AS ref_odate
FROM ev e ASOF LEFT JOIN r ON e.k = r.k AND e.t >= r.rt"""))

  private val asofNative = Q(
    "q_asof_native",
    (s, dir) => {
      // The SAME as-of query through the custom broadcast physical
      // operator (plans.BroadcastAsOfJoin): identical oracle proves the
      // zero-shuffle plan computes identical semantics.
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id").as("k"), to_date(col("ts")).as("t"))
      val r = t(s, dir, "orders")
        .select(col("o_custkey").as("k"),
          to_date(col("o_orderdate")).as("t"), col("o_orderkey"))
        .groupBy("k", "t").agg(max("o_orderkey").as("ref_order"))
        .withColumn("ref_odate", col("t").cast("string"))
      operators.AsOfJoin.broadcastAsOf(ev, r, Seq("k"), "t", Seq("ref_order", "ref_odate"),
          forward = false)
        .select("event_id", "k", "ref_order", "ref_odate")
    },
    Some("""WITH ev AS (SELECT event_id, user_id AS k, CAST(ts AS DATE) AS t FROM events),
r AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS rt,
             CAST(MAX(o_orderkey) AS BIGINT) AS ref_order
      FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.k, r.ref_order, CAST(r.rt AS VARCHAR) AS ref_odate
FROM ev e ASOF LEFT JOIN r ON e.k = r.k AND e.t >= r.rt"""))

  /** The as-of join under a TOLERANCE bound (pandas merge_asof
    * tolerance; Snowflake ASOF JOIN users post-filter the same way):
    * the latest prior order enriches an event only while ≤ 7 days
    * old — staler matches null out exactly like no match, because an
    * enrichment silently carrying month-old state forward is a bug,
    * not a join. `AsOfJoin.nearestBeforeWithin` keeps the
    * single-shuffle plan (matched ts rides the carry struct; the
    * bound is a scan-speed projection). Oracle: DuckDB ASOF LEFT
    * JOIN + the same CASE, proving the null-out semantics. */
  private val asofTolerance = Q(
    "q_asof_tolerance",
    (s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id").as("k"), to_date(col("ts")).as("t"))
      val r = t(s, dir, "orders")
        .select(col("o_custkey").as("k"),
          to_date(col("o_orderdate")).as("t"), col("o_orderkey"))
        .groupBy("k", "t").agg(max("o_orderkey").as("ref_order"))
        .withColumn("ref_odate", col("t").cast("string"))
      operators.AsOfJoin.nearestBeforeWithin(ev, r, Seq("k"), "t",
          Seq("ref_order", "ref_odate"),
          stale = (l, m) => datediff(l, m) > 7)
        .select("event_id", "k", "ref_order", "ref_odate")
    },
    Some("""WITH ev AS (SELECT event_id, user_id AS k, CAST(ts AS DATE) AS t FROM events),
r AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS rt,
             CAST(MAX(o_orderkey) AS BIGINT) AS ref_order
      FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.k,
       CASE WHEN e.t - r.rt > 7 THEN NULL ELSE r.ref_order END AS ref_order,
       CASE WHEN e.t - r.rt > 7 THEN NULL
            ELSE CAST(r.rt AS VARCHAR) END AS ref_odate
FROM ev e ASOF LEFT JOIN r ON e.k = r.k AND e.t >= r.rt"""))

  /** merge_asof direction='nearest': each event matched to the
    * CLOSEST order in either direction (tie → the earlier one, the
    * merge_asof rule) — `AsOfJoin.nearestClosest`: one exchange, two
    * windows on the same ordering. DuckDB restates it as a backward
    * ASOF ⋈ forward ASOF + the distance CASE, so the direction
    * choice itself is hash-checked on every row. */
  private val asofNearest = Q(
    "q_asof_nearest",
    (s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id").as("k"), to_date(col("ts")).as("t"))
      val r = t(s, dir, "orders")
        .select(col("o_custkey").as("k"),
          to_date(col("o_orderdate")).as("t"), col("o_orderkey"))
        .groupBy("k", "t").agg(max("o_orderkey").as("ref_order"))
        .withColumn("ref_odate", col("t").cast("string"))
      operators.AsOfJoin.nearestClosest(ev, r, "k", "t",
          Seq("ref_order", "ref_odate"),
          dist = (l, m) => abs(datediff(l, m)))
        .select("event_id", "k", "ref_order", "ref_odate")
    },
    Some("""WITH ev AS (SELECT event_id, user_id AS k, CAST(ts AS DATE) AS t FROM events),
r AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS rt,
             CAST(MAX(o_orderkey) AS BIGINT) AS ref_order
      FROM orders GROUP BY 1, 2),
b AS (
  SELECT e.event_id, e.k, e.t, r.rt AS bt, r.ref_order AS bo
  FROM ev e ASOF LEFT JOIN r ON e.k = r.k AND e.t >= r.rt),
f AS (
  SELECT e.event_id, r.rt AS at, r.ref_order AS ao
  FROM ev e ASOF LEFT JOIN r ON e.k = r.k AND e.t < r.rt)
SELECT b.event_id, b.k,
       CASE WHEN b.bt IS NULL THEN f.ao
            WHEN f.at IS NULL THEN b.bo
            WHEN abs(f.at - b.t) < abs(b.t - b.bt) THEN f.ao
            ELSE b.bo END AS ref_order,
       CAST(CASE WHEN b.bt IS NULL THEN f.at
            WHEN f.at IS NULL THEN b.bt
            WHEN abs(f.at - b.t) < abs(b.t - b.bt) THEN f.at
            ELSE b.bt END AS VARCHAR) AS ref_odate
FROM b JOIN f USING (event_id)"""))

  private val cdcApply = Q(
    "q_cdc_apply",
    (s, dir) => {
      // Full MERGE incl. WHEN MATCHED DELETE: a deterministic CDC
      // stream over the events table — two change versions per some
      // keys (version 2 wins), tombstones mixed in, upserts of absent
      // keys (insert path), deletes of absent keys (no-op path).
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_id") % 7 =!= 0)
        .select(col("event_id"), col("value"))
      val c1 = ev.filter(col("event_id") % 5 === 0).select(
        col("event_id"), (col("value") * 2).as("value"), lit(1).as("version"),
        when(col("event_id") % 3 === 0, lit("delete")).otherwise(lit("upsert")).as("op"))
      val c2 = ev.filter(col("event_id") % 10 === 0).select(
        col("event_id"), (col("value") * 3).as("value"), lit(2).as("version"),
        when(col("event_id") % 4 === 0, lit("delete")).otherwise(lit("upsert")).as("op"))
      // checkpoint the change set: applyCdc consumes it twice (key set
      // + upserts) and a real CDC batch arrives materialized anyway —
      // without it the demo re-derives the changes from events per
      // consumer (Prof census: 5 events scans -> 2)
      val changes = Barrier.materialize(c1.unionByName(c2))._1
      operators.IncrementalMerge.applyCdc(
          base, changes, Seq("event_id"), Seq("version"), "op")
        .select(col("event_id"), round(col("value"), 6).as("value"))
    },
    Some("""WITH base AS (SELECT event_id, value FROM events WHERE event_id % 7 <> 0),
changes AS (
  SELECT event_id, value * 2 AS value, 1 AS version,
         CASE WHEN event_id % 3 = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id, value * 3, 2,
         CASE WHEN event_id % 4 = 0 THEN 'delete' ELSE 'upsert' END
  FROM events WHERE event_id % 10 = 0),
winner AS (
  SELECT event_id, value, op FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn
    FROM changes) WHERE rn = 1),
kept AS (SELECT b.event_id, b.value FROM base b ANTI JOIN winner USING (event_id))
SELECT event_id, round(value, 6) AS value FROM kept
UNION ALL
SELECT event_id, round(value, 6) AS value FROM winner WHERE op <> 'delete'"""))

  /** INCREMENTAL VIEW MAINTENANCE of a grouped aggregate under the
    * SAME CDC stream as q_cdc_apply — the materialized (cnt, Σv) view
    * is updated from the deltas alone, never recomputed from the
    * maintained base (the IVM algebra: counts and sums are
    * self-maintainable; subtract each changed key's pre-image, add
    * the post-image for upserts). The row's oracle IS the correctness
    * statement: maintained view ≡ the aggregate recomputed over the
    * CDC-applied base.
    *
    * Scale shape: the only base touch is the pre-image LOOKUP for the
    * |changes| keys (broadcast keyed join — a point-read at 100 TB
    * with A14-style file skipping; the change batch is micro-batch
    * sized); the view update is a |groups|-keyed full-outer merge.
    * The measure is integral (floor) so every delta is exact — the
    * FP caveat of IVM over double sums doesn't arise. */
  private val ivmAgg = Q(
    "q_ivm_agg",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val base = Barrier.materialize(ev.filter(col("event_id") % 7 =!= 0)
        .select(col("event_id"),
          (col("event_id") % 100).as("grp"),
          floor(col("value")).cast("long").as("v")))._1
      val view = Barrier.materialize(base.groupBy("grp")
        .agg(count(lit(1)).as("cnt"), sum("v").as("total")))._1
      val c1 = ev.filter(col("event_id") % 5 === 0).select(
        col("event_id"), floor(col("value") * 2).cast("long").as("v"),
        lit(1).as("version"),
        when(col("event_id") % 3 === 0, lit("delete")).otherwise(lit("upsert"))
          .as("op"))
      val c2 = ev.filter(col("event_id") % 10 === 0).select(
        col("event_id"), floor(col("value") * 3).cast("long").as("v"),
        lit(2).as("version"),
        when(col("event_id") % 4 === 0, lit("delete")).otherwise(lit("upsert"))
          .as("op"))
      val winner = Barrier.materialize(c1.unionByName(c2)
        .groupBy("event_id")
        .agg(max_by(struct(col("v"), col("op")), col("version")).as("w"))
        .select(col("event_id"), (col("event_id") % 100).as("grp"),
          col("w.v").as("new_v"), col("w.op").as("op")))._1
      // pre-image lookup: the ONLY base touch — the |changes| key set
      // broadcasts into a semi-join point-read, and the bounded result
      // broadcasts back onto the change batch
      val lookup = base
        .join(broadcast(winner.select("event_id")), Seq("event_id"),
          "left_semi")
        .select(col("event_id"), col("v").as("old_v"))
      val pre = winner.join(broadcast(lookup), Seq("event_id"), "left")
      val delta = pre.select(col("grp"),
        // remove the pre-image (if the key existed), add the
        // post-image (if the change is an upsert)
        (when(col("old_v").isNotNull, -1L).otherwise(0L) +
          when(col("op") === "upsert", 1L).otherwise(0L)).as("dcnt"),
        (when(col("old_v").isNotNull, -col("old_v")).otherwise(0L) +
          when(col("op") === "upsert", col("new_v")).otherwise(0L))
          .as("dtotal"))
        .groupBy("grp")
        .agg(sum("dcnt").as("dcnt"), sum("dtotal").as("dtotal"))
      view.join(delta, Seq("grp"), "full_outer")
        .select(col("grp"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
            .as("cnt"),
          (coalesce(col("total"), lit(0L)) + coalesce(col("dtotal"), lit(0L)))
            .as("total"))
        .filter(col("cnt") > 0)
    },
    // the recompute over the CDC-applied base — IVM must equal it
    Some("""WITH base AS (
  SELECT event_id, event_id % 100 AS grp,
         CAST(floor(value) AS BIGINT) AS v
  FROM events WHERE event_id % 7 <> 0),
changes AS (
  SELECT event_id, CAST(floor(value * 2) AS BIGINT) AS v, 1 AS version,
         CASE WHEN event_id % 3 = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id, CAST(floor(value * 3) AS BIGINT), 2,
         CASE WHEN event_id % 4 = 0 THEN 'delete' ELSE 'upsert' END
  FROM events WHERE event_id % 10 = 0),
winner AS (
  SELECT event_id, v, op FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn
    FROM changes) WHERE rn = 1),
kept AS (SELECT b.event_id, b.grp, b.v FROM base b ANTI JOIN winner USING (event_id)),
final AS (
  SELECT event_id, grp, v FROM kept
  UNION ALL
  SELECT event_id, event_id % 100 AS grp, v FROM winner WHERE op <> 'delete')
SELECT grp, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(v) AS BIGINT) AS total
FROM final GROUP BY grp"""))

  private val asofMulti = Q(
    "q_asof_multi",
    (s, dir) => {
      // Tuple-keyed as-of through the custom operator: each event picks
      // the member's latest order of the SAME order-priority class
      // placed on or before the event date — (custkey, priority) key.
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id").as("k"),
        concat(lit("P"), (col("event_id") % 3).cast("string")).as("cls"),
        to_date(col("ts")).as("t"))
      val r = t(s, dir, "orders")
        .select(col("o_custkey").as("k"),
          concat(lit("P"), (col("o_orderkey") % 3).cast("string")).as("cls"),
          to_date(col("o_orderdate")).as("t"), col("o_orderkey"))
        .groupBy("k", "cls", "t").agg(max("o_orderkey").as("ref_order"))
      operators.AsOfJoin.broadcastAsOf(ev, r, Seq("k", "cls"), "t", Seq("ref_order"),
          forward = false)
        .select("event_id", "k", "cls", "ref_order")
    },
    Some("""WITH ev AS (SELECT event_id, user_id AS k,
                   'P' || CAST(event_id % 3 AS VARCHAR) AS cls,
                   CAST(ts AS DATE) AS t FROM events),
r AS (SELECT o_custkey AS k,
             'P' || CAST(o_orderkey % 3 AS VARCHAR) AS cls,
             CAST(o_orderdate AS DATE) AS rt,
             CAST(MAX(o_orderkey) AS BIGINT) AS ref_order
      FROM orders GROUP BY 1, 2, 3)
SELECT e.event_id, e.k, e.cls, r.ref_order
FROM ev e ASOF LEFT JOIN r
  ON e.k = r.k AND e.cls = r.cls AND e.t >= r.rt"""))

  // ---------------------------------------------------------------------
  val all: Seq[Q] = Seq(
    percentiles, stringFuncs, dateFuncs, cubeQ, scalarSubquery,
    setOps, nestedTypes, asofJoin, asofNative, asofMulti, asofTolerance, asofNearest, cdcApply, ivmAgg,
    ingestCast, partitionExtract, ingestReject, ingestValidate,
    unionSources, panelWindows, panelAsOf, weightedEvents, sessionize,
    audienceMetrics, incrementalMerge, upsertMergeQ, affectedRebuild, watermarkQ,
    controlTableQ, panelWindowsMergeQ, scd2Weights, bitemporal,
    q1Agg, joinDims, joinFact, topkWindow, rollupQ, distinctQ, semiAnti,
    pivotCase, runningWindow) ++ QueriesML.all ++ QueriesExt.all ++
    QueriesLLM.all ++ QueriesScale.all ++ QueriesFns.all ++
    QueriesTs.all ++ QueriesCurate.all ++ QueriesGraph.all ++
    QueriesGeo.all ++ QueriesTv.all
}
