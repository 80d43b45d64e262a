package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Barrier
import graft.sources.ViewingData

/** Snowflake scalar/aggregate/window FUNCTION-surface parity rows the
  * earlier suites didn't cover: MIN_BY/MAX_BY, conditional aggregates
  * (COUNT_IF / BOOLAND_AGG / BOOLOR_AGG), CONDITIONAL_CHANGE_EVENT /
  * CONDITIONAL_TRUE_EVENT, RATIO_TO_REPORT, LIKE ANY / NOT LIKE ALL /
  * ILIKE, and CONVERT_TIMEZONE. All scan-speed expression work — the
  * scale question for each is only "does the plan stay one pass"; the
  * grouped variants pre-aggregate map-side like any hash aggregate,
  * the window variants ride one keyed exchange.
  */
object QueriesFns {

  /** Snowflake MIN_BY / MAX_BY (reference capability: full ANSI OLAP
    * surface, SURVEY §1): per priority class, the order id carrying
    * the extreme price. Spark's max_by/min_by with a (price, key)
    * STRUCT ordering makes ties deterministic — equal prices resolve
    * to the larger/smaller key, which is what lets a hash-compared
    * oracle exist at all. The DuckDB twin states the same semantics as
    * window ranking (its arg_max can't take a composite ordering). */
  private val minmaxBy = Q(
    "q_minmax_by",
    (s, dir) => {
      val o = ViewingData.table(s, dir, "orders")
      o.groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("dearest_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_order"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT o_orderpriority,
       CAST(MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS BIGINT) AS dearest_order,
       CAST(MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS BIGINT) AS cheapest_order,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT o_orderpriority, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
  FROM orders)
GROUP BY 1"""))

  /** COUNT_IF / BOOLAND_AGG / BOOLOR_AGG — Snowflake's conditional
    * and boolean aggregates, all one-pass partial-aggregable (a
    * conditional count is a sum, a bool_and is a min — nothing here
    * widens the shuffle beyond one value per group per map task). */
  private val condAggs = Q(
    "q_cond_aggs",
    (s, dir) => {
      val o = ViewingData.table(s, dir, "orders")
      o.groupBy("o_orderstatus")
        .agg(
          count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          bool_or(col("o_totalprice") > 400000).as("any_huge"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT o_orderstatus,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_totalprice > 400000) AS any_huge,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY 1"""))

  /** CONDITIONAL_CHANGE_EVENT / CONDITIONAL_TRUE_EVENT — Snowflake's
    * sessionization-adjacent event counters: a running count that
    * ticks when an expression CHANGES (channel switches, state
    * transitions) or when a predicate holds. Both are one LAG + one
    * cumulative SUM on the SAME (user, ts) window — Spark plans a
    * single Sort+Window pass, so the cost is one keyed exchange, the
    * q_sessionize shape. Reported per user: total switches and total
    * qualifying events (the counters' final values). */
  private val changeEvents = Q(
    "q_change_events",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("chg",
          when(not(col("event_type") <=> lag("event_type", 1).over(w)), 1L)
            .otherwise(0L))
        .withColumn("change_id", sum("chg").over(run))
        .withColumn("true_id",
          sum(when(col("value") > 50.0, 1L).otherwise(0L)).over(run))
        .groupBy("user_id")
        .agg(max("change_id").as("n_switches"),
          max("true_id").as("n_high_value"),
          count(lit(1)).as("n_events"))
    },
    Some("""SELECT user_id,
       CAST(MAX(change_id) AS BIGINT) AS n_switches,
       CAST(MAX(true_id) AS BIGINT) AS n_high_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
         SUM(chg) OVER w2 AS change_id,
         SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) OVER w2 AS true_id
  FROM (
    SELECT user_id, ts, event_id, value,
           CASE WHEN event_type IS DISTINCT FROM
                     LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                THEN 1 ELSE 0 END AS chg
    FROM events)
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))
GROUP BY 1"""))

  /** RATIO_TO_REPORT — each day's share of its event type's total
    * volume. The window SUM over the full partition is the textbook
    * two-pass-free form: Spark computes the partition total in the
    * same Window exec as the projection, one exchange on the (tiny)
    * grouped frame — the fact table was already reduced by the
    * count aggregate before any window runs. */
  private val ratioReport = Q(
    "q_ratio_report",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          to_date(col("ts")).cast("string").as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
      daily.withColumn("share",
          round(col("n") / sum("n").over(Window.partitionBy("event_type")), 6))
        .select(col("event_type"), col("day"), col("n").cast("long").as("n"),
          col("share"))
    },
    Some("""SELECT event_type, day, CAST(n AS BIGINT) AS n,
       ROUND(n / SUM(n) OVER (PARTITION BY event_type), 6) AS share
FROM (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2)"""))

  /** LIKE ANY / NOT LIKE ALL / ILIKE — Snowflake's multi-pattern
    * predicates, written in Spark SQL's own LIKE ANY/ALL syntax (the
    * DuckDB twin expands to OR/AND — same semantics). Pattern
    * predicates are scan-speed codegen'd `contains`/`startsWith`
    * specializations; nothing shuffles until the one-row rollup. */
  private val likeAny = Q(
    "q_like_any",
    (s, dir) => {
      ViewingData.table(s, dir, "part").createOrReplaceTempView("graft_part")
      s.sql("""SELECT
        CAST(COUNT_IF(p_name LIKE ANY ('%red%', 'bl%')) AS BIGINT) AS n_any,
        CAST(COUNT_IF(p_name NOT LIKE ALL ('%red%', '%blue%')) AS BIGINT) AS n_not_all,
        CAST(COUNT_IF(p_name ILIKE '%RED%') AS BIGINT) AS n_ilike,
        CAST(COUNT_IF(p_type LIKE 'small%' AND p_name LIKE '%bolt%') AS BIGINT) AS n_conj
      FROM graft_part""")
    },
    Some("""SELECT
  CAST(COUNT(*) FILTER (WHERE p_name LIKE '%red%' OR p_name LIKE 'bl%') AS BIGINT) AS n_any,
  CAST(COUNT(*) FILTER (WHERE p_name NOT LIKE '%red%' AND p_name NOT LIKE '%blue%') AS BIGINT) AS n_not_all,
  CAST(COUNT(*) FILTER (WHERE p_name ILIKE '%RED%') AS BIGINT) AS n_ilike,
  CAST(COUNT(*) FILTER (WHERE p_type LIKE 'small%' AND p_name LIKE '%bolt%') AS BIGINT) AS n_conj
FROM part"""))

  /** CONVERT_TIMEZONE — UTC event times to wall-clock in two zones
    * (fixed-offset Tokyo and DST-observing New York), aggregated per
    * local NY hour. Both engines resolve the SAME IANA tzdb, which is
    * the portability property worth pinning: a training pipeline that
    * partitions by local day must agree with the warehouse it
    * replaced. Spark's convert_timezone yields TIMESTAMP_NTZ (naive
    * wall clock) — exactly Snowflake's CONVERT_TIMEZONE(src, tgt, ntz)
    * contract. */
  private val timezone = Q(
    "q_timezone",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      ev.select(
          date_trunc("hour",
            convert_timezone(lit("UTC"), lit("America/New_York"), col("ts")))
            .cast("string").as("ny_hour"),
          convert_timezone(lit("UTC"), lit("Asia/Tokyo"), col("ts")).as("tokyo_ts"))
        .groupBy("ny_hour")
        .agg(count(lit(1)).as("n"),
          max(col("tokyo_ts")).cast("string").as("last_tokyo"))
    },
    Some("""SELECT CAST(DATE_TRUNC('hour',
         ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York') AS VARCHAR) AS ny_hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo') AS VARCHAR) AS last_tokyo
FROM events GROUP BY 1"""))

  /** REGR_* linear-regression aggregates (Snowflake / SQL-standard
    * REGR family): slope, intercept, r², pair count and the two means
    * of value-on-hour-of-day per event type. All are one-pass
    * mergeable moment aggregates (sums of x, y, x², xy) — partial
    * aggregation map-side, one value per group per task on the wire;
    * nothing here widens with data volume. Spark and DuckDB reduce
    * the same moments in different orders, so double outputs are
    * rounded at 4 dp like q_stats_agg; Spark's NaN for degenerate
    * groups normalizes to SQL-standard NULL. */
  private val regression = Q(
    "q_regression",
    (s, dir) => {
      def nn(c: org.apache.spark.sql.Column) =
        when(isnan(c), lit(null)).otherwise(c)
      val x = hour(col("ts")).cast("double")
      val y = col("value")
      ViewingData.table(s, dir, "events")
        .groupBy("event_type")
        .agg(
          regr_count(y, x).cast("long").as("n_pairs"),
          nn(round(regr_slope(y, x), 4)).as("slope"),
          nn(round(regr_intercept(y, x), 4)).as("icept"),
          nn(round(regr_r2(y, x), 4)).as("r2"),
          round(regr_avgx(y, x), 4).as("mean_x"),
          round(regr_avgy(y, x), 4).as("mean_y"))
    },
    Some("""SELECT event_type,
       CAST(regr_count(value, CAST(hour(ts) AS DOUBLE)) AS BIGINT) AS n_pairs,
       round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 4) AS slope,
       round(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 4) AS icept,
       round(regr_r2(value, CAST(hour(ts) AS DOUBLE)), 4) AS r2,
       round(regr_avgx(value, CAST(hour(ts) AS DOUBLE)), 4) AS mean_x,
       round(regr_avgy(value, CAST(hour(ts) AS DOUBLE)), 4) AS mean_y
FROM events GROUP BY 1"""))

  /** Exponentially-weighted moving average per user — the time-series
    * smoothing signal EMA(α) approximated over a bounded 10-row
    * trailing window (the exact recursive form is inherently serial;
    * truncating at 10 lags bounds the per-row state and keeps the
    * whole computation ONE keyed window — the weight of the dropped
    * tail is 0.7¹⁰ ≈ 2.8%). collect_list over the frame + a
    * higher-order weighted fold: no UDF, one user_id exchange, and
    * the frame is 10 doubles per row regardless of history length.
    * The closed-form geometric denominator (1-d^m)/(1-d) avoids a
    * second fold. */
  /** Normalized exponential-decay weighted mean of a collected window
    * `xs` (oldest first), decay `d` per lag — shared by q_ewma and
    * FnsSpec's hand-computed fixpoints. */
  private[graft] def ewmaOf(xs: org.apache.spark.sql.Column, d: Double)
      : org.apache.spark.sql.Column = {
    val m = size(xs)
    val num = aggregate(
      zip_with(xs, sequence(lit(1), m),
        (x, i) => x * pow(lit(d), (m - i).cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val den = (lit(1.0) - pow(lit(d), m.cast("double"))) / lit(1.0 - d)
    num / den
  }

  private val ewma = Q(
    "q_ewma",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
      ViewingData.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          collect_list(col("value")).over(w).as("xs"))
        .select(col("event_id"), col("user_id"),
          round(ewmaOf(col("xs"), 0.7), 6).as("ewma"))
    },
    Some("""WITH w AS (
  SELECT event_id, user_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
  FROM events)
SELECT event_id, user_id,
       round(list_sum(list_transform(range(1, len(xs)+1),
               i -> xs[i] * pow(0.7, len(xs)-i)))
             / ((1 - pow(0.7, len(xs))) / 0.3), 6) AS ewma
FROM w"""))

  /** Deterministic MODE: most frequent value bucket per group. Spark's
    * own `mode()` breaks frequency ties arbitrarily, which can never
    * hash-match an oracle — this form states the tie order explicitly
    * (highest count, then SMALLEST bucket) via max_by over a
    * (count, -bucket) struct, so both engines agree bit-for-bit. Two
    * narrowing aggregations: |groups×buckets| then |groups| — both
    * map-side combined. */
  /** Deterministic mode over a pre-bucketed frame (grp, bucket):
    * highest count wins, ties resolve to the SMALLEST bucket — shared
    * by q_mode and FnsSpec's crafted tie cases. */
  private[graft] def deterministicMode(df: org.apache.spark.sql.DataFrame,
      grp: String, bucket: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col(grp), col(bucket))
      .agg(count(lit(1)).as("c"))
      .groupBy(grp)
      .agg(
        max_by(col(bucket), struct(col("c"), (-col(bucket)).as("nb")))
          .as("mode_bucket"),
        max(col("c")).as("mode_count"),
        count(lit(1)).as("n_buckets"))

  private val modeAgg = Q(
    "q_mode",
    (s, dir) =>
      deterministicMode(
        ViewingData.table(s, dir, "events")
          .select(col("event_type"),
            floor(col("value") / 10).cast("long").as("bucket")),
        "event_type", "bucket"),
    Some("""WITH b AS (
  SELECT event_type, CAST(floor(value/10) AS BIGINT) AS bucket, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY c DESC, bucket ASC) AS rn
  FROM b)
SELECT event_type,
       CAST(MAX(CASE WHEN rn = 1 THEN bucket END) AS BIGINT) AS mode_bucket,
       CAST(MAX(c) AS BIGINT) AS mode_count,
       CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM r GROUP BY 1"""))

  /** One-pass column profiling (the SUMMARIZE / data-catalog stats
    * surface): per column — row count, null count, exact distinct
    * count, min/max — emitted in long form, ONE scan of the table.
    * The multi-distinct plan is Spark's Expand (×4 rows through one
    * aggregate), which is the exact-count trade; a 100-TB profile
    * swaps countDistinct for approx_count_distinct and the plan
    * collapses back to plain partial aggregation. Numerics report
    * typed min/max (min_num/max_num), strings and dates report
    * canonical strings — no double-to-string formatting crosses the
    * engine boundary. */
  private val profile = Q(
    "q_profile",
    (s, dir) => {
      val o = ViewingData.table(s, dir, "orders")
      def nulls(c: String) =
        sum(when(col(c).isNull, 1L).otherwise(0L))
      // ONE aggregate with four countDistinct columns plans an Expand
      // that multiplies every input row 5× before the wide aggregate
      // (Spark's multi-distinct rewrite). Four single-distinct
      // aggregates cross-joined avoid the expansion entirely: each
      // subtree scans ONLY its own column (parquet pruning), distinct
      // aggregation is per-column partial+final, and the four 1-row
      // results fold with three free cross joins — measured 2.07 →
      // 0.69 s at sf0.1 on the same oracle output.
      val aggSt = o.agg(
        count(lit(1)).as("n"),
        nulls("o_orderstatus").as("st_nulls"),
        countDistinct(col("o_orderstatus")).as("st_nd"),
        min(col("o_orderstatus")).as("st_min"),
        max(col("o_orderstatus")).as("st_max"))
      val aggCk = o.agg(
        nulls("o_custkey").as("ck_nulls"),
        countDistinct(col("o_custkey")).as("ck_nd"),
        min(col("o_custkey")).as("ck_min"),
        max(col("o_custkey")).as("ck_max"))
      val aggTp = o.agg(
        nulls("o_totalprice").as("tp_nulls"),
        countDistinct(col("o_totalprice")).as("tp_nd"),
        round(min(col("o_totalprice")), 4).as("tp_min"),
        round(max(col("o_totalprice")), 4).as("tp_max"))
      val aggOd = o.agg(
        nulls("o_orderdate").as("od_nulls"),
        countDistinct(col("o_orderdate")).as("od_nd"),
        min(col("o_orderdate")).as("od_min"),
        max(col("o_orderdate")).as("od_max"))
      val agg = aggSt.crossJoin(aggCk).crossJoin(aggTp).crossJoin(aggOd)
      def row(name: String, nulls: org.apache.spark.sql.Column,
              nd: org.apache.spark.sql.Column,
              minN: org.apache.spark.sql.Column, maxN: org.apache.spark.sql.Column,
              minS: org.apache.spark.sql.Column, maxS: org.apache.spark.sql.Column) =
        struct(lit(name).as("col_name"), col("n").as("n_rows"),
          nulls.as("n_nulls"), nd.as("n_distinct"),
          minN.cast("double").as("min_num"), maxN.cast("double").as("max_num"),
          minS.cast("string").as("min_s"), maxS.cast("string").as("max_s"))
      val nul = lit(null)
      agg.select(explode(array(
        row("o_orderstatus", col("st_nulls"), col("st_nd"),
          nul, nul, col("st_min"), col("st_max")),
        row("o_custkey", col("ck_nulls"), col("ck_nd"),
          col("ck_min"), col("ck_max"), nul, nul),
        row("o_totalprice", col("tp_nulls"), col("tp_nd"),
          col("tp_min"), col("tp_max"), nul, nul),
        row("o_orderdate", col("od_nulls"), col("od_nd"),
          nul, nul, col("od_min"), col("od_max")))).as("p"))
        .select("p.*")
    },
    Some("""SELECT 'o_orderstatus' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       MIN(o_orderstatus) AS min_s, MAX(o_orderstatus) AS max_s
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
       NULL, NULL
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       round(MIN(o_totalprice), 4), round(MAX(o_totalprice), 4),
       NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
FROM orders"""))

  /** Snowflake LATERAL FLATTEN over a VARIANT array, with index: parse
    * the normalized ACR genres JSON (`'["g1","g2"]'`) and explode to
    * one row per element carrying its 0-based position —
    * `posexplode_outer(from_json(...))`, the engine's generic
    * array-VARIANT flatten (OUTER keeps rows whose array is empty or
    * unparseable, exactly FLATTEN(.., OUTER => TRUE); the empty edge
    * is pinned in FnsSpec since every ACR row here has two genres).
    * Scan-speed row generation — no shuffle, output rows ∝ array
    * cardinality. */
  private val flattenArr = Q(
    "q_flatten",
    (s, dir) =>
      ViewingData.acr(s, dir)
        .select(col("event_id"),
          posexplode_outer(from_json(col("genres"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))))
        .withColumnRenamed("col", "genre"),
    Some("""WITH g AS (
  SELECT event_id,
         ['g' || CAST(event_id % 3 AS VARCHAR),
          'g' || CAST(user_id % 4 AS VARCHAR)] AS arr
  FROM events WHERE event_type IN ('view','click','purchase'))
SELECT event_id,
       CAST(generate_subscripts(arr, 1) - 1 AS INTEGER) AS pos,
       unnest(arr) AS genre
FROM g"""))

  /** Time-WEIGHTED average per (user, day) — the TWAP/telemetry shape
    * where each observation holds until the next one, so its weight is
    * the seconds until the successor (the day's last observation
    * carries no weight; a single-observation day has no weighted span
    * and reports NULL, matching SQL aggregate semantics on both
    * engines). One keyed window (LEAD on the same (user, day)
    * exchange the final groupBy reuses) — plain arithmetic after the
    * shuffle, no state beyond the 1-row lookahead. */
  private val twap = Q(
    "q_twap",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      ViewingData.table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("ts"), col("event_id"), col("value"))
        .withColumn("dt",
          (unix_timestamp(lead(col("ts"), 1).over(w)) -
            unix_timestamp(col("ts"))).cast("long"))
        .groupBy("user_id", "day")
        .agg(
          // zero-span days (all events in one second → Σdt = 0) are as
          // weightless as single-event days: NULL, never 0/0 = NaN
          when(coalesce(sum(col("dt")), lit(0L)) === 0, lit(null))
            .otherwise(round(
              sum(col("value") * col("dt")) / sum(col("dt")).cast("double"), 6))
            .as("twap"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("twap"), col("n_events"))
    },
    Some("""WITH o AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value FROM events),
d AS (
  SELECT user_id, day, value,
         CAST(floor(epoch(lead(ts, 1) OVER (PARTITION BY user_id, day
                ORDER BY ts, event_id))) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) AS dt
  FROM o)
SELECT user_id, CAST(day AS VARCHAR) AS day,
       CASE WHEN coalesce(SUM(dt), 0) = 0 THEN NULL
            ELSE round(SUM(value * dt) / CAST(SUM(dt) AS DOUBLE), 6) END AS twap,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM d GROUP BY 1, 2"""))

  /** Last-touch ATTRIBUTION within a 7-day lookback — the marketing
    * analytics shape: each purchase credits the user's latest click
    * on or before it, unless that click is older than the window
    * (then the purchase is "direct", NULL credit). OPERATOR REUSE:
    * the credit lookup IS `operators.AsOfJoin.nearestBefore` (one
    * union+window shuffle, no range self-join); the lookback cap is a
    * post-hoc filter because the as-of's latest-before is by
    * definition the only candidate inside any trailing window. Right
    * side pre-aggregated unique per (user, ts) so the winner is
    * defined, same discipline as C18. */
  private val attribution = Q(
    "q_attribution",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("t"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
          col("event_id"))
        .groupBy("user_id", "t").agg(max("event_id").as("click_id"))
        .withColumn("c_ts", col("t"))
      val window = 604800L // 7 days
      operators.AsOfJoin
        .nearestBefore(p, c, Seq("user_id"), "t", Seq("click_id", "c_ts"))
        .withColumn("age", col("t") - col("c_ts"))
        .select(col("event_id"), col("user_id"),
          when(col("c_ts").isNotNull && col("age") <= window,
            col("click_id")).as("attributed_click"),
          when(col("c_ts").isNotNull && col("age") <= window,
            col("age")).as("age_s"))
    },
    Some("""WITH p AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS pts
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS cts,
         CAST(MAX(event_id) AS BIGINT) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
SELECT p.event_id, p.user_id,
       CASE WHEN c.cts IS NOT NULL AND p.pts - c.cts <= 604800
            THEN c.click_id END AS attributed_click,
       CASE WHEN c.cts IS NOT NULL AND p.pts - c.cts <= 604800
            THEN p.pts - c.cts END AS age_s
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.pts >= c.cts"""))

  /** Equi-DEPTH histogram (C15 is equi-width): quartile buckets by
    * ntile over a unique order, per-bucket count and value bounds —
    * the optimizer-statistics / data-profiling companion of C72. One
    * keyed window exchange + the same-keyed rollup. */
  private val histogramEqd = Q(
    "q_histogram_eqd",
    (s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      ViewingData.table(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("q", ntile(4).over(w))
        .groupBy("event_type", "q")
        .agg(count(lit(1)).as("n"),
          round(min("value"), 6).as("lo"),
          round(max("value"), 6).as("hi"))
    },
    Some("""WITH t AS (
  SELECT event_type, value,
         ntile(4) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS q
  FROM events)
SELECT event_type, CAST(q AS INTEGER) AS q, CAST(COUNT(*) AS BIGINT) AS n,
       round(MIN(value), 6) AS lo, round(MAX(value), 6) AS hi
FROM t GROUP BY 1, 2"""))

  /** Exact DISCRETE percentiles (PERCENTILE_DISC; C10 is the
    * interpolated CONT form): the value at position ceil(p·n) of the
    * group's sorted multiset — always an actual data value. Engines
    * disagree on the boundary rank convention (floor vs ceil vs
    * nearest), so BOTH sides state the identical window formulation
    * instead of trusting a built-in: one keyed window exchange, the
    * rollup reuses it. */
  private val percentileDisc = Q(
    "q_percentile_disc",
    (s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      val wn = Window.partitionBy("event_type")
      ViewingData.table(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("event_type")
        .agg(
          round(min(when(col("rn") === ceil(col("n") * 0.5), col("value"))), 6)
            .as("p50_disc"),
          round(min(when(col("rn") === ceil(col("n") * 0.9), col("value"))), 6)
            .as("p90_disc"),
          count(lit(1)).as("n"))
    },
    Some("""WITH t AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type,
       round(MIN(CASE WHEN rn = ceil(n * 0.5) THEN value END), 6) AS p50_disc,
       round(MIN(CASE WHEN rn = ceil(n * 0.9) THEN value END), 6) AS p90_disc,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t GROUP BY 1"""))

  /** Per-group z-score standardization — the feature-prep projection
    * (ML pipelines standardize before distance/gradient work): window
    * mean/stddev_samp on one keyed exchange, then scan-speed
    * arithmetic. Degenerate groups yield NULL — single-row groups
    * (stddev NULL) AND constant groups (stddev 0, where the naive
    * division is 0/0 = NaN) — stated explicitly on both engines. */
  private val standardize = Q(
    "q_standardize",
    (s, dir) => {
      val w = Window.partitionBy("event_type")
      val sd = stddev_samp(col("value")).over(w)
      ViewingData.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("z",
          when(sd.isNull || sd === 0.0, lit(null)).otherwise(
            round((col("value") - avg("value").over(w)) / sd, 4)))
        .select("event_id", "event_type", "z")
    },
    Some("""SELECT event_id, event_type,
       CASE WHEN stddev_samp(value) OVER w IS NULL
              OR stddev_samp(value) OVER w = 0 THEN NULL
            ELSE round((value - AVG(value) OVER w)
                       / (stddev_samp(value) OVER w), 4) END AS z
FROM events
WINDOW w AS (PARTITION BY event_type)"""))

  /** OBJECT_CONSTRUCT → VARIANT round trip (the build side of C19's
    * `$1:field` extraction): per-row JSON objects from typed columns,
    * then a path re-extraction proving the encoding. `ignoreNullFields
    * = false` keeps SQL-standard `"k":null` members — Spark's default
    * silently drops them, which no SQL engine does. Scan-speed
    * projection. */
  private val jsonBuild = Q(
    "q_json_build",
    (s, dir) =>
      ViewingData.table(s, dir, "events")
        .select(col("event_id"),
          to_json(
            struct(col("event_type").as("t"), col("user_id").as("u"),
              nullif(col("event_type"), lit("error")).as("maybe")),
            java.util.Collections.singletonMap("ignoreNullFields", "false"))
            .as("obj"))
        .withColumn("t_back", get_json_object(col("obj"), "$.t")),
    Some("""SELECT event_id,
       CAST(to_json(struct_pack(t := event_type, u := user_id,
                                maybe := nullif(event_type, 'error'))) AS VARCHAR) AS obj,
       json_extract_string(
         CAST(to_json(struct_pack(t := event_type, u := user_id,
                                  maybe := nullif(event_type, 'error'))) AS VARCHAR),
         '$.t') AS t_back
FROM events"""))

  /** Dynamic data MASKING (Snowflake MASKING POLICY — the
    * expression-level governance the engine CAN enforce; GRANT is
    * A10's non-goal): customer names partially masked and balances
    * nulled unless the session role is privileged. The query runs the
    * UNPRIVILEGED path — the oracle states the redacted output, so
    * the gate proves real values cannot leak through
    * [[operators.Quality.masked]]'s projection. */
  private val masking = Q(
    "q_masking",
    (s, dir) =>
      operators.Quality.masked(
          ViewingData.table(s, dir, "customer")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
              col("c_mktsegment")),
          Map(
            "c_name" -> concat(substring(col("c_name"), 1, 2), lit("****")),
            "c_acctbal" -> lit(null).cast("double")),
          unmaskedWhen = lit("analyst") === "admin")
        .withColumn("c_acctbal", round(col("c_acctbal"), 2)),
    Some("""SELECT c_custkey,
       substring(c_name, 1, 2) || '****' AS c_name,
       CAST(NULL AS DOUBLE) AS c_acctbal,
       c_mktsegment
FROM customer"""))

  /** Safe-division surface — Snowflake DIV0 (0 on ÷0), DIV0NULL (0 on
    * ÷0 OR NULL divisor) and Spark's native try_divide (NULL on ÷0),
    * the arithmetic siblings of C34's TRY_CAST error handling. All
    * scan-speed conditionals; the divisor is crafted to hit zero,
    * NULL, and normal lanes on real rows. */
  private val div0 = Q(
    "q_div0",
    (s, dir) => {
      val d = (floor(col("l_quantity")) % 5).cast("long")
      val dn = nullif(d, lit(3L))
      val p = col("l_extendedprice")
      ViewingData.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(when(d === 0, lit(0.0)).otherwise(p / d), 6).as("div0"),
          round(when(dn === 0 || dn.isNull, lit(0.0)).otherwise(p / dn), 6)
            .as("div0null"),
          round(try_divide(p, d), 6).as("try_div"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
       round(CASE WHEN d = 0 THEN 0.0 ELSE l_extendedprice / d END, 6) AS div0,
       round(CASE WHEN dn = 0 OR dn IS NULL THEN 0.0
                  ELSE l_extendedprice / dn END, 6) AS div0null,
       round(CASE WHEN d = 0 THEN NULL ELSE l_extendedprice / d END, 6) AS try_div
FROM (SELECT *, CAST(floor(l_quantity) % 5 AS BIGINT) AS d,
             nullif(CAST(floor(l_quantity) % 5 AS BIGINT), 3) AS dn
      FROM lineitem)"""))

  /** k-anonymity / l-diversity release audit — the data-governance
    * check a panel-data team runs before sharing viewer-level cuts
    * (the engine-enforceable side of the reference's access-control
    * plane, SURVEY §2 A10): every quasi-identifier group (zip3, day,
    * hour) is scored by distinct panelists (k, threshold 5) and
    * distinct sensitive values (l, threshold 3); groups failing either
    * must be suppressed or generalized before release.
    *
    * Plan shape: ONE hash aggregate keyed by the QI with two distinct
    * aggregates → Catalyst plans an Expand ×3 (same documented shape
    * as q_profile's multi-distinct) with map-side partials; the
    * flags are post-aggregate projection. At 100 TB the exact
    * distincts swap for the C46 bitmap_distinct path per QI group —
    * the audit's group key space (geo × day) is control-plane-sized
    * either way. */
  private val anonymityAudit = Q(
    "q_anonymity_audit",
    (s, dir) => {
      ViewingData.table(s, dir, "events")
        .select(
          substring((col("user_id") % 90000 + 10000).cast("string"), 1, 3)
            .as("zip3"),
          to_date(col("ts")).cast("string").as("day"),
          hour(col("ts")).as("hh"),
          col("user_id"), col("event_type"))
        .groupBy("zip3", "day", "hh")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("n_users"),
          countDistinct("event_type").as("n_sensitive"))
        .withColumn("k_anonymous", col("n_users") >= 5)
        .withColumn("l_diverse", col("n_sensitive") >= 3)
    },
    Some("""SELECT substring(CAST(user_id % 90000 + 10000 AS VARCHAR), 1, 3) AS zip3,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(hour(ts) AS INTEGER) AS hh,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_sensitive,
       count(DISTINCT user_id) >= 5 AS k_anonymous,
       count(DISTINCT event_type) >= 3 AS l_diverse
FROM events GROUP BY 1, 2, 3"""))

  /** The ENFORCEMENT step after C87's audit — one-round
    * generalization: QI cells failing k-anonymity are merged into a
    * '***' bucket per (day, hour) before release. Computed entirely
    * on the GROUP table (pass-through cells keep their counts; failing
    * cells fold into the generalized bucket) — the fact table is
    * scanned exactly once for the audit aggregate, never rejoined.
    * Real systems iterate until the generalized bucket itself clears
    * k; this row documents the single round (the fixpoint is the same
    * fold repeated on the released table). */
  private val anonymityEnforce = Q(
    "q_anonymity_enforce",
    (s, dir) => {
      // build-once: both release branches read the SAME group table —
      // without the barrier each branch re-instantiates the audit
      // aggregate and the fact table is scanned twice (plan-pinned)
      val g = Barrier.materialize(ViewingData.table(s, dir, "events")
        .select(
          substring((col("user_id") % 90000 + 10000).cast("string"), 1, 3)
            .as("zip3"),
          to_date(col("ts")).cast("string").as("day"),
          hour(col("ts")).as("hh"),
          col("user_id"))
        .groupBy("zip3", "day", "hh")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("u")))._1
      val pass = g.filter(col("u") >= 5)
        .select(col("zip3"), col("day"), col("hh"), col("n"))
      val gen = g.filter(col("u") < 5)
        .groupBy("day", "hh").agg(sum("n").as("n"))
        .select(lit("***").as("zip3"), col("day"), col("hh"), col("n"))
      pass.union(gen)
    },
    Some("""WITH g AS (
  SELECT substring(CAST(user_id % 90000 + 10000 AS VARCHAR), 1, 3) AS zip3,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(hour(ts) AS INTEGER) AS hh,
         CAST(count(*) AS BIGINT) AS n,
         count(DISTINCT user_id) AS u
  FROM events GROUP BY 1, 2, 3)
SELECT zip3, day, hh, n FROM g WHERE u >= 5
UNION ALL
SELECT '***' AS zip3, day, hh, CAST(sum(n) AS BIGINT) AS n
FROM g WHERE u < 5 GROUP BY day, hh"""))

  /** Noised aggregate release — the differential-privacy release
    * SHAPE (per-cell count + bounded additive noise + clamp) with the
    * RNG swapped for a deterministic md5 draw so the whole chain is
    * hash-checkable cross-engine; a production release keys the same
    * derivation from a secret seed (the noise column is the ONLY
    * pluggable piece). Noise is uniform on [-3, 3] per released cell
    * (count query sensitivity 1), released = max(n + noise, 0).
    * One hash aggregate + scan-speed projection. */
  private val noisedRelease = Q(
    "q_noised_release",
    (s, dir) => {
      ViewingData.table(s, dir, "events")
        .select(
          concat(lit("dma-"), (col("user_id") % 5).cast("string")).as("dma"),
          to_date(col("ts")).cast("string").as("day"))
        .groupBy("dma", "day")
        .agg(count(lit(1)).as("n_true"))
        .withColumn("noise",
          conv(substring(md5(concat(col("dma"), lit("|"), col("day"))), 1, 6),
            16, 10).cast("long") % 7 - 3)
        .withColumn("released", greatest(col("n_true") + col("noise"), lit(0L)))
    },
    Some(s"""WITH g AS (
  SELECT 'dma-' || CAST(user_id % 5 AS VARCHAR) AS dma,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS BIGINT) AS n_true
  FROM events GROUP BY 1, 2)
SELECT dma, day, n_true,
       ${QueriesLLM.hex6Sql("md5(dma || '|' || day)")} % 7 - 3 AS noise,
       greatest(n_true + ${QueriesLLM.hex6Sql("md5(dma || '|' || day)")} % 7 - 3,
                0) AS released
FROM g"""))

  /** Reach & FREQUENCY DISTRIBUTION — the media-measurement deliverable
    * B6's per-title rollup doesn't give (it reports average frequency;
    * planners buy the exposure curve): per broadcast week, panelists
    * bucketed by exposure count (1 / 2 / 3-5 / 6+), each bucket's
    * weighted reach and gross rating points (Σ n·w / universe × 100,
    * universe = total panel weight).
    *
    * Plan shape: the exposure fold is the only fact-table aggregate
    * (map-side combined, keyed by panelist); the weight table is
    * panel-sized → broadcast join (the geoWeights argument), the
    * universe is a 1-row broadcast frame. Integral weights keep every
    * sum exact; the single GRP division is rounded on both engines. */
  private val freqDistribution = Q(
    "q_freq_distribution",
    (s, dir) => {
      // build-once: the universe aggregate and the broadcast join both
      // read the SAME panel-sized weight table (one customer scan)
      val w = Barrier.materialize(ViewingData.table(s, dir, "customer")
        .select(col("c_custkey").as("uid"),
          floor(abs(col("c_acctbal"))).cast("long").as("wgt")))._1
      val universe = w.agg(sum("wgt").as("universe"))
      val f = ViewingData.table(s, dir, "events")
        .filter(col("event_type") === "view")
        .groupBy(col("user_id").as("uid"),
          date_trunc("week", to_date(col("ts"))).cast("date").cast("string")
            .as("week"))
        .agg(count(lit(1)).as("n"))
      f.join(broadcast(w), "uid")
        .withColumn("freq_bucket",
          when(col("n") >= 6, lit("6+"))
            .when(col("n") >= 3, lit("3-5"))
            .otherwise(col("n").cast("string")))
        .groupBy("week", "freq_bucket")
        .agg(count(lit(1)).as("panelists"),
          sum("wgt").as("reach_w"),
          sum(col("n") * col("wgt")).as("impressions_w"))
        .crossJoin(broadcast(universe))
        .withColumn("grp",
          round(col("impressions_w") * 100.0 / col("universe"), 6))
        .drop("universe")
    },
    Some("""WITH w AS (
  SELECT c_custkey AS uid, CAST(floor(abs(c_acctbal)) AS BIGINT) AS wgt
  FROM customer),
u AS (SELECT CAST(sum(wgt) AS BIGINT) AS universe FROM w),
f AS (SELECT user_id AS uid,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS VARCHAR) AS week,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
SELECT week,
       CASE WHEN n >= 6 THEN '6+'
            WHEN n >= 3 THEN '3-5'
            ELSE CAST(n AS VARCHAR) END AS freq_bucket,
       CAST(count(*) AS BIGINT) AS panelists,
       CAST(sum(wgt) AS BIGINT) AS reach_w,
       CAST(sum(n * wgt) AS BIGINT) AS impressions_w,
       round(CAST(sum(n * wgt) AS BIGINT) * 100.0 / (SELECT universe FROM u), 6) AS grp
FROM f JOIN w USING (uid)
GROUP BY 1, 2"""))

  /** RFM SEGMENTATION (recency / frequency / monetary quintiles — the
    * classic audience-CRM cut): one entity fold of the feed per
    * panelist, then three ntile(5) rankings with explicit uid
    * tiebreaks so the quintile edges are deterministic cross-engine,
    * composed into the 'R{r}F{f}M{m}' segment label.
    *
    * Scale note: the fold is the only corpus-sized aggregate; the
    * ntiles sort the ENTITY table (panel-sized — the
    * dedup_fuzzy_names argument: |panelists| ≪ |events| and grows
    * far slower). At a truly huge entity count the exact global
    * ntile swaps for range-partitioned ranking or approx quantile
    * edges; the audit's quintile semantics don't change. */
  private val rfmSegments = Q(
    "q_rfm_segments",
    (s, dir) => {
      // ONE fact fold; the corpus max date is the max of the per-user
      // last dates, observed on the fold's own barrier job and applied
      // as a literal: no second scan, no aggregate, no cross join
      val (per0, maxd) = operators.Barrier.materialize(
        ViewingData.table(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(max(to_date(col("ts"))).as("last_d"),
            count(lit(1)).as("freq"),
            sum(floor(col("value")).cast("long")).as("monetary")),
        max(col("last_d")).as("max_d"))
      val per = per0
        .withColumn("recency_days",
          datediff(lit(maxd.get(0)).cast("date"), col("last_d")).cast("long"))
        .drop("last_d")
      per
        .withColumn("r", ntile(5).over(
          Window.orderBy(col("recency_days"), col("user_id"))))
        .withColumn("f", ntile(5).over(
          Window.orderBy(col("freq").desc, col("user_id"))))
        .withColumn("m", ntile(5).over(
          Window.orderBy(col("monetary").desc, col("user_id"))))
        .select(col("user_id"), col("recency_days"), col("freq"),
          col("monetary"),
          concat(lit("R"), col("r").cast("string"),
            lit("F"), col("f").cast("string"),
            lit("M"), col("m").cast("string")).as("segment"))
    },
    Some("""WITH per AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)),
           (SELECT max(CAST(ts AS DATE)) FROM events)) AS recency_days,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS monetary
  FROM events GROUP BY 1)
SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, freq, monetary,
       'R' || CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS VARCHAR)
       || 'F' || CAST(ntile(5) OVER (ORDER BY freq DESC, user_id) AS VARCHAR)
       || 'M' || CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS VARCHAR)
         AS segment
FROM per"""))

  /** MARKET-BASKET association rules (support / confidence / lift over
    * co-ordered parts — the retail-analytics classic): distinct
    * (order, part) fold first, pair explode via an order-key
    * equi-join with part_a < part_b — per-order pair work is bounded
    * by BASKET SIZE (TPC-H ≤ 7 items), never |lineitem|²; pair
    * supports are the one big aggregate, item supports broadcast back
    * into the rule projection. Rules kept at support ≥ 3 (63 pairs on
    * this corpus). Counts exact; confidence/lift divisions rounded. */
  private val marketBasket = Q(
    "q_market_basket",
    (s, dir) => {
      // repartition by the SELF-JOIN key before the checkpoint: the
      // distinct leaves the frame hash-partitioned by (orderkey,
      // partkey), so the pair join would re-exchange BOTH sides on
      // l_orderkey; a checkpoint preserves its plan's partitioning
      // (LogicalRDD), so pre-partitioning makes the self-join
      // exchange-free — one added exchange buys out two
      val it = Barrier.materialize(ViewingData.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .repartition(col("l_orderkey")))._1
      val nOrders = it.select(countDistinct("l_orderkey").as("n_orders"))
      val itemSup = it.groupBy(col("l_partkey")).agg(count(lit(1)).as("s"))
      val a = it.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      val b = it.select(col("l_orderkey"), col("l_partkey").as("part_b"))
      val pairSup = a.join(b, "l_orderkey")
        .filter(col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("s_ab"))
        .filter(col("s_ab") >= 3)
      pairSup
        .join(broadcast(itemSup.withColumnRenamed("l_partkey", "part_a")
          .withColumnRenamed("s", "s_a")), "part_a")
        .join(broadcast(itemSup.withColumnRenamed("l_partkey", "part_b")
          .withColumnRenamed("s", "s_b")), "part_b")
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("s_ab"), col("s_a"),
          col("s_b"),
          round(col("s_ab") / col("s_a"), 6).as("confidence"),
          round(col("s_ab") * col("n_orders") / (col("s_a") * col("s_b")), 6)
            .as("lift"))
    },
    Some("""WITH it AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM it),
sup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM it GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS s_ab
  FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT p.part_a, p.part_b, p.s_ab, sa.s AS s_a, sb.s AS s_b,
       round(p.s_ab * 1.0 / sa.s, 6) AS confidence,
       round(p.s_ab * (SELECT n_orders FROM n) * 1.0 / (sa.s * sb.s), 6)
         AS lift
FROM pairs p JOIN sup sa ON sa.l_partkey = p.part_a
             JOIN sup sb ON sb.l_partkey = p.part_b"""))

  /** A/B experiment READOUT with deterministic hash assignment (the
    * md5-bucket arm split every experimentation platform uses —
    * retry/reshard-stable, no rand()): panelists split 50/50 by
    * md5(uid) parity, converted = ≥ 14 purchases in the period (the
    * bar that splits this corpus — every panelist has ≥ 1 purchase,
    * which would pool p to 1 and zero the z denominator); one entity
    * fold,
    * then the readout (rates, absolute lift, pooled two-proportion
    * z-score) is scalar arithmetic on a 2-row frame. Counts exact;
    * each derived ratio rounded once on both engines. */
  private val abTest = Q(
    "q_ab_test",
    (s, dir) => {
      val per = ViewingData.table(s, dir, "events")
        .groupBy("user_id")
        .agg(when(count(when(col("event_type") === "purchase", 1)) >= 14,
          1L).otherwise(0L).as("conv"))
        .withColumn("arm",
          when(conv(substring(md5(concat(lit("graft-ab:"),
              col("user_id").cast("string")).cast("binary")), 1, 6), 16, 10)
            .cast("long") % 2 === 0, lit("A")).otherwise(lit("B")))
      val arms = per.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum("conv").as("nc"))
      // coalesce to 0 so an empty arm reports a zero COUNT on both
      // engines (a bare conditional sum is NULL in Spark, 0 via
      // DuckDB's count form); the rate/z divisions then hit the same
      // ANSI div-0 gate either way — the documented degenerate case
      val w = arms.groupBy()
        .agg(coalesce(sum(when(col("arm") === "A", col("n"))), lit(0L)).as("n_a"),
          coalesce(sum(when(col("arm") === "A", col("nc"))), lit(0L)).as("conv_a"),
          coalesce(sum(when(col("arm") === "B", col("n"))), lit(0L)).as("n_b"),
          coalesce(sum(when(col("arm") === "B", col("nc"))), lit(0L)).as("conv_b"))
      w.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(col("conv_a") / col("n_a"), 6).as("rate_a"),
        round(col("conv_b") / col("n_b"), 6).as("rate_b"),
        round(col("conv_b") / col("n_b") - col("conv_a") / col("n_a"), 6)
          .as("abs_lift"),
        round((col("conv_b") / col("n_b") - col("conv_a") / col("n_a")) /
          sqrt(((col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))) *
            (lit(1.0) - (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6).as("z"))
    },
    Some(s"""WITH per AS (
  SELECT user_id,
         CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 14
              THEN 1 ELSE 0 END AS conv,
         CASE WHEN ${QueriesLLM.hex6Sql(
        "md5('graft-ab:' || CAST(user_id AS VARCHAR))")} % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM events GROUP BY user_id),
w AS (
  SELECT CAST(count(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
         CAST(coalesce(sum(CASE WHEN arm = 'A' THEN conv END), 0) AS BIGINT) AS conv_a,
         CAST(count(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b,
         CAST(coalesce(sum(CASE WHEN arm = 'B' THEN conv END), 0) AS BIGINT) AS conv_b
  FROM per)
SELECT n_a, conv_a, n_b, conv_b,
       round(conv_a * 1.0 / n_a, 6) AS rate_a,
       round(conv_b * 1.0 / n_b, 6) AS rate_b,
       round(conv_b * 1.0 / n_b - conv_a * 1.0 / n_a, 6) AS abs_lift,
       round((conv_b * 1.0 / n_b - conv_a * 1.0 / n_a) /
         sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b)) *
              (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b)) *
              (1.0 / n_a + 1.0 / n_b)), 6) AS z
FROM w"""))

  val all: Seq[Q] =
    Seq(minmaxBy, condAggs, changeEvents, ratioReport, likeAny, timezone,
      regression, ewma, modeAgg, profile, flattenArr, twap,
      attribution, histogramEqd, percentileDisc, standardize,
      jsonBuild, masking, div0, marketBasket, abTest, anonymityAudit, anonymityEnforce,
      noisedRelease, freqDistribution, rfmSegments)
}
