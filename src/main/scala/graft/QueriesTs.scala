package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Barrier
import graft.sources.ViewingData

/** Time-series / behavioral analytics over the event feed (reference
  * capability: full ANSI OLAP surface, SURVEY §1 — these are the
  * monitoring/journey queries a viewing-data warehouse runs daily):
  * robust anomaly detection (median/MAD), winsorized aggregates,
  * Markov transition matrices, lead-lag cross-correlation, and top
  * navigation paths.
  *
  * Scale shape shared by all five: ONE map-side-combined aggregate
  * folds the raw feed to a small per-group/per-day table (days ×
  * groups, control-plane-sized even at 100 TB of raw events);
  * everything after — group medians, transition ratios, lag joins —
  * runs on that folded table, with the per-group scalars broadcast
  * back where a rescan of raw data would otherwise be needed.
  */
object QueriesTs {

  /** Exact discrete per-group quantile of an already-folded table via
    * the rank formulation both engines state identically (see
    * q_percentile_disc for the convention note): value at position
    * `ceil(p · n)` of the group's sorted multiset. Returns
    * (group, q-value) rows — tiny, meant to be broadcast-joined back. */
  private def discQuantiles(
      df: org.apache.spark.sql.DataFrame, grp: String, v: String,
      tie: String, ps: Seq[(Double, String)]) = {
    val w = Window.partitionBy(grp).orderBy(col(v), col(tie))
    val aggs = ps.map { case (p, as) =>
      min(when(col("__rn") === ceil(col("__n") * p), col(v))).as(as)
    }
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(grp)))
      .groupBy(grp)
      .agg(aggs.head, aggs.tail: _*)
  }

  private def discQuantile(
      df: org.apache.spark.sql.DataFrame, grp: String, v: String,
      tie: String, p: Double, as: String) =
    discQuantiles(df, grp, v, tie, Seq(p -> as))

  /** Robust anomaly detection on daily volumes — median/MAD, the
    * outlier-resistant z-score (a traffic spike can't drag its own
    * threshold the way mean/stddev lets it). Counts and both medians
    * are integers, so the whole chain is EXACT — no float boundary
    * for the oracle to disagree on. Daily-count fold: one shuffle;
    * medians: two aggregates over the folded table joined back
    * (broadcast — |event_type| rows). */
  private val anomalyMad = Q(
    "q_anomaly_mad",
    (s, dir) => {
      // ONE raw-feed scan: the folded daily table (groups × days,
      // control-plane-sized) is checkpointed so the median/MAD
      // branches don't each re-aggregate 100 TB of events
      val daily = Barrier.materialize(ViewingData.table(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n")))._1
      val med = discQuantile(daily, "event_type", "n", "day", 0.5, "med")
      val dev = daily.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = discQuantile(dev, "event_type", "dev", "day", 0.5, "mad")
      dev.join(broadcast(mad), "event_type")
        .select(col("event_type"), col("day").cast("string").as("day"),
          col("n"), col("med"), col("mad"),
          (col("dev") > col("mad") * 3).as("is_anomaly"))
    },
    Some("""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
rmed AS (
  SELECT event_type, n,
         row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM daily),
med AS (
  SELECT event_type, MIN(CASE WHEN rn = ceil(cnt * 0.5) THEN n END) AS med
  FROM rmed GROUP BY 1),
dev AS (
  SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS dev
  FROM daily d JOIN med m USING (event_type)),
rmad AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev, day) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM dev),
mad AS (
  SELECT event_type, MIN(CASE WHEN rn = ceil(cnt * 0.5) THEN dev END) AS mad
  FROM rmad GROUP BY 1)
SELECT d.event_type, CAST(d.day AS VARCHAR) AS day, d.n, d.med, m.mad,
       d.dev > m.mad * 3 AS is_anomaly
FROM dev d JOIN mad m USING (event_type)"""))

  /** Winsorized group aggregates — clamp at the exact discrete
    * p05/p95 before averaging, the standard robust-mean prep for
    * heavy-tailed measures. The clamp bounds come from one keyed
    * window pass over the fact table, broadcast back; the clamped
    * re-aggregate is a second map-side-combined pass. */
  private val winsorize = Q(
    "q_winsorize",
    (s, dir) => {
      val o = ViewingData.table(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      // both clamp bounds from ONE keyed window pass — two scans of
      // the fact total (bounds + clamped re-aggregate), the floor for
      // an exact-quantile clamp without caching the fact
      val bounds = discQuantiles(o, "o_orderpriority", "o_totalprice",
        "o_orderkey", Seq(0.05 -> "p05", 0.95 -> "p95"))
      o.join(broadcast(bounds), "o_orderpriority")
        .withColumn("w", greatest(col("p05"), least(col("p95"), col("o_totalprice"))))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(avg("o_totalprice"), 6).as("avg_raw"),
          round(avg("w"), 6).as("avg_wins"),
          round(min("p05"), 2).as("p05"),
          round(min("p95"), 2).as("p95"))
    },
    Some("""WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders),
b AS (
  SELECT o_orderpriority,
         MIN(CASE WHEN rn = ceil(cnt * 0.05) THEN o_totalprice END) AS p05,
         MIN(CASE WHEN rn = ceil(cnt * 0.95) THEN o_totalprice END) AS p95
  FROM r GROUP BY 1)
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       round(AVG(o.o_totalprice), 6) AS avg_raw,
       round(AVG(greatest(b.p05, least(b.p95, o.o_totalprice))), 6) AS avg_wins,
       round(MIN(b.p05), 2) AS p05, round(MIN(b.p95), 2) AS p95
FROM orders o JOIN b USING (o_orderpriority)
GROUP BY 1"""))

  /** First-order Markov transition matrix over each user's event
    * stream — the journey-analysis primitive (what follows what, and
    * how often). One keyed window exchange for LAG, one aggregate for
    * the transition counts; the per-prev normalization runs on the
    * |types|² folded table. Probabilities are ratios of exact counts
    * — identical doubles in both engines under round. */
  private val markov = Q(
    "q_markov",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = ViewingData.table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("next_type"))
        .withColumn("prev_type", lag("next_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
      trans.withColumn("p",
        round(col("n") / sum("n").over(Window.partitionBy("prev_type")), 9))
    },
    Some("""WITH seq AS (
  SELECT event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
t AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, n,
       round(n / SUM(n) OVER (PARTITION BY prev_type), 9) AS p
FROM t"""))

  /** Lead-lag cross-correlation between per-type daily volumes —
    * "do clicks today predict purchases tomorrow". The daily fold is
    * the only scan of raw data; the lag alignment is a self-join of
    * the tiny folded series (types × days rows) shifted -2..+2 days,
    * and Pearson runs per (pair, lag). Degenerate series (constant,
    * or fewer than two aligned days) are NULLed explicitly on both
    * engines — Spark yields NaN where DuckDB yields NULL, so the
    * guard IS the contract. */
  private val xcorr = Q(
    "q_xcorr",
    (s, dir) => {
      // one raw scan; the folded series checkpoints before the lag
      // self-join re-reads it from both sides
      val daily = Barrier.materialize(ViewingData.table(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n")))._1
      val a = daily.select(col("event_type").as("type_a"),
        col("day").as("day_a"), col("n").as("n_a"))
        .withColumn("lag", explode(sequence(lit(-2), lit(2))))
      val b = daily.select(col("event_type").as("type_b"),
        col("day").as("day_b"), col("n").as("n_b"))
      val sdA = stddev_samp(col("n_a"))
      val sdB = stddev_samp(col("n_b"))
      a.join(b, expr("day_b = date_add(day_a, lag)"))
        .groupBy("type_a", "type_b", "lag")
        .agg(count(lit(1)).as("n_days"),
          when(sdA.isNull || sdA === 0.0 || sdB.isNull || sdB === 0.0,
            lit(null)).otherwise(round(corr(col("n_a"), col("n_b")), 6))
            .as("xcorr"))
    },
    Some("""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
lags AS (SELECT unnest(range(-2, 3)) AS lag)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(l.lag AS INTEGER) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CASE WHEN stddev_samp(a.n) IS NULL OR stddev_samp(a.n) = 0
              OR stddev_samp(b.n) IS NULL OR stddev_samp(b.n) = 0
            THEN NULL ELSE round(corr(a.n, b.n), 6) END AS xcorr
FROM daily a
CROSS JOIN lags l
JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER) * INTERVAL 1 DAY
GROUP BY 1, 2, 3"""))

  /** Top navigation paths: each user-day's ordered event-type
    * sequence folded to a path string, counted, top 20. The per-key
    * collect is bounded by one user's single-day activity (a session,
    * not the corpus) — the same boundedness argument as listagg; the
    * final top-k is a TakeOrdered over the path-count table. Ties in
    * the ordering break on the path string so the LIMIT set is
    * deterministic. */
  private val sessionPaths = Q(
    "q_session_paths",
    (s, dir) => {
      ViewingData.table(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },
    Some("""WITH p AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY 1, 2)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path LIMIT 20"""))

  /** Daypart audience INDEX — the TV-measurement daypart report (how a
    * content type's audience concentrates by broadcast daypart,
    * normalized to its own 24-h average = 100): hourly activity folded
    * per (type, daypart), index = n / hours_in_part / (total / 24) ×
    * 100. One map-side-combined fold; the per-type total rides a
    * window over the folded (types × 4)-row table. Counts exact; the
    * single index division rounded on both engines. */
  private val daypartIndex = Q(
    "q_daypart_index",
    (s, dir) => {
      val dp = when(hour(col("ts")) <= 5, lit("1-late"))
        .when(hour(col("ts")) <= 11, lit("2-morning"))
        .when(hour(col("ts")) <= 17, lit("3-afternoon"))
        .otherwise(lit("4-prime"))
      val folded = ViewingData.table(s, dir, "events")
        .groupBy(col("event_type"), dp.as("daypart"))
        .agg(count(lit(1)).as("n"))
      folded
        .withColumn("total",
          sum("n").over(Window.partitionBy("event_type")))
        .withColumn("idx",
          round(col("n") * lit(24.0) / lit(6.0) / col("total") * 100, 6))
        .drop("total")
    },
    Some("""WITH folded AS (
  SELECT event_type,
         CASE WHEN hour(ts) <= 5 THEN '1-late'
              WHEN hour(ts) <= 11 THEN '2-morning'
              WHEN hour(ts) <= 17 THEN '3-afternoon'
              ELSE '4-prime' END AS daypart,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, daypart, n,
       round(n * 24.0 / 6.0
             / (sum(n) OVER (PARTITION BY event_type)) * 100, 6) AS idx
FROM folded"""))

  /** GROWTH ACCOUNTING (the weekly active-panelist ledger: new /
    * retained / resurrected, plus who churns out of each week) — the
    * audience-health report every measurement shop runs. "Active" =
    * ≥ 16 events in the week — the engagement bar that splits this
    * corpus into all four classes (any-event saturates: every
    * panelist is active every week). The raw feed folds ONCE to
    * qualifying (panelist, week) rows; lag/lead over that
    * entity-week table (|panelists|·|weeks| rows — far smaller than
    * the feed) classify each active week, and the final rollup is
    * weeks-sized. Churn is counted on the week the user is LAST seen
    * before a gap > 1 week (the corpus' final week therefore counts
    * everyone still active — the documented right-censoring). */
  private val growthAccounting = Q(
    "q_growth_accounting",
    (s, dir) => {
      val uw = ViewingData.table(s, dir, "events")
        .groupBy(col("user_id"),
          date_trunc("week", to_date(col("ts"))).cast("date").as("wk"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 16)
        .drop("n")
      val w = Window.partitionBy("user_id").orderBy("wk")
      uw.withColumn("prev", lag("wk", 1).over(w))
        .withColumn("next", lead("wk", 1).over(w))
        .groupBy(col("wk").cast("string").as("week"))
        .agg(count(lit(1)).as("n_active"),
          count(when(col("prev").isNull, 1)).as("n_new"),
          count(when(datediff(col("wk"), col("prev")) === 7, 1))
            .as("n_retained"),
          count(when(col("prev").isNotNull &&
            datediff(col("wk"), col("prev")) > 7, 1)).as("n_resurrected"),
          count(when(col("next").isNull ||
            datediff(col("next"), col("wk")) > 7, 1)).as("n_churning"))
    },
    Some("""WITH uw AS (
  SELECT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
  FROM events GROUP BY 1, 2 HAVING count(*) >= 16),
cls AS (
  SELECT user_id, wk,
         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
         lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next
  FROM uw)
SELECT CAST(wk AS VARCHAR) AS week,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(count(CASE WHEN prev IS NULL THEN 1 END) AS BIGINT) AS n_new,
       CAST(count(CASE WHEN date_diff('day', prev, wk) = 7 THEN 1 END)
         AS BIGINT) AS n_retained,
       CAST(count(CASE WHEN prev IS NOT NULL
                        AND date_diff('day', prev, wk) > 7 THEN 1 END)
         AS BIGINT) AS n_resurrected,
       CAST(count(CASE WHEN next IS NULL
                        OR date_diff('day', wk, next) > 7 THEN 1 END)
         AS BIGINT) AS n_churning
FROM cls GROUP BY 1"""))

  /** Seasonal-naive FORECAST BACKTEST (the forecasting-eval shape:
    * predict each day with the value one season = 7 days earlier,
    * score per series): daily fold per type, the lag-7 prediction via
    * an explicit self-join on (type, day−7) — exact under calendar
    * gaps where a ROWS-lag would silently misalign — then MAE and
    * WAPE (Σ|err| / Σ actual — the integer-ratio form; a per-row MAPE
    * mean would sum doubles in engine-dependent order). Both error
    * sums are exact integers; the two final divisions are rounded. */
  private val forecastSnaive = Q(
    "q_forecast_snaive",
    (s, dir) => {
      val daily = ViewingData.table(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val pred = daily.select(col("event_type"),
        date_add(col("day"), 7).as("day"), col("n").as("p"))
      daily.join(pred, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(sum(abs(col("n") - col("p"))) / count(lit(1)), 6).as("mae"),
          round(sum(abs(col("n") - col("p"))) / sum(col("n")), 6).as("wape"))
    },
    Some("""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
j AS (
  SELECT a.event_type, a.n, p.n AS p
  FROM daily a
  JOIN daily p ON p.event_type = a.event_type
              AND p.day = a.day - INTERVAL 7 DAY)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       round(CAST(sum(abs(n - p)) AS BIGINT) * 1.0 / count(*), 6) AS mae,
       round(CAST(sum(abs(n - p)) AS BIGINT) * 1.0
             / CAST(sum(n) AS BIGINT), 6) AS wape
FROM j GROUP BY 1"""))

  /** LINEAR interpolation resample — q_gap_fill's twin with the other
    * fill policy (LOCF carries the last value; interpolation draws the
    * line between the surrounding observations — the policy metric
    * backfills and sensor/panel series want). Same one-scan shape as
    * q_gap_fill: the daily fold is the only touch of the fact table;
    * the spine fan-out is a broadcast one-row bounds frame; then TWO
    * window passes per user (previous and next observation, each
    * carrying (day, value) so the slope has both anchors). Edges
    * before the first / after the last observation fall back to the
    * nearest one (pandas `interpolate(limit_direction='both')`
    * semantics). Exact integer day arithmetic feeds the fraction, so
    * both engines compute the same doubles; round(6) absorbs FP. */
  private val interpolate = Q(
    "q_interpolate",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      val daily = Barrier.materialize(ev.groupBy("user_id", "day").agg(max("value").as("v")))._1
      val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = daily.select("user_id").distinct()
        .crossJoin(bounds)
        .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
      val obs = when(col("v").isNotNull, struct(col("day").as("d"), col("v")))
      val wPrev = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("p", last(obs, ignoreNulls = true).over(wPrev))
        .withColumn("nx", first(obs, ignoreNulls = true).over(wNext))
        .select(
          col("user_id"),
          col("day").cast("string").as("day"),
          round(
            when(col("v").isNotNull, col("v"))
              .when(col("p").isNull, col("nx.v"))
              .when(col("nx").isNull, col("p.v"))
              .otherwise(col("p.v") +
                (col("nx.v") - col("p.v")) *
                  datediff(col("day"), col("p.d")).cast("double") /
                  datediff(col("nx.d"), col("p.d")).cast("double")),
            6).as("value_interp"))
    },
    Some("""WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MAX(value) AS v
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events),
spine AS (
  SELECT u.user_id, CAST(gs.day AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
              FROM bounds) gs),
g AS (
  SELECT s.user_id, s.day, d.v,
         LAST_VALUE(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
           OVER wp AS pd,
         LAST_VALUE(d.v IGNORE NULLS) OVER wp AS pv,
         FIRST_VALUE(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
           OVER wn AS nd,
         FIRST_VALUE(d.v IGNORE NULLS) OVER wn AS nv
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
  WINDOW wp AS (PARTITION BY s.user_id ORDER BY s.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY s.user_id ORDER BY s.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, CAST(day AS VARCHAR) AS day,
       ROUND(CASE
         WHEN v IS NOT NULL THEN v
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv) * CAST(day - pd AS DOUBLE)
                             / CAST(nd - pd AS DOUBLE)
       END, 6) AS value_interp
FROM g"""))

  /** Peak concurrent sessions per content — the SWEEP-LINE pattern
    * (interval-overlap maximum: concurrency curves, capacity planning,
    * "peak viewers" headlines): each exposure interval [start, end)
    * becomes a +1 at start and a −1 at end, the per-content running
    * sum over (ts, delta)-ordered deltas traces the concurrency
    * curve, and MAX of the curve is the peak. Ordering (ts, delta
    * ASC) processes ends before starts at the same instant — the
    * half-open-interval convention, so back-to-back sessions never
    * double-count. Ties among identical (ts, delta) rows permute
    * only WITHIN a run of equal increments, so the running-value
    * multiset — and its max — is deterministic. One |deltas| shuffle
    * per content partition; the curve never materializes globally. */
  private val peakConcurrency = Q(
    "q_peak_concurrency",
    (s, dir) => {
      val acr = ViewingData.acr(s, dir)
        .select(col("content_id"), col("exposure_start_ts"), col("exposure_end_ts"))
      val deltas = acr
        .select(col("content_id"), col("exposure_start_ts").as("ts"), lit(1L).as("d"))
        .unionByName(acr.select(col("content_id"),
          col("exposure_end_ts").as("ts"), lit(-1L).as("d")))
      val w = Window.partitionBy("content_id").orderBy(col("ts"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas
        .withColumn("running", sum("d").over(w))
        .groupBy("content_id")
        .agg(max("running").as("peak_concurrent"))
    },
    Some(Queries.veCte + """,
deltas AS (
  SELECT content_id, exposure_start_ts AS ts, 1 AS d FROM acr
  UNION ALL
  SELECT content_id, exposure_end_ts AS ts, -1 AS d FROM acr),
curve AS (
  SELECT content_id,
         SUM(d) OVER (PARTITION BY content_id ORDER BY ts, d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM deltas)
SELECT content_id, CAST(MAX(running) AS BIGINT) AS peak_concurrent
FROM curve GROUP BY 1"""))

  /** C105's sweep line carrying PANEL WEIGHTS — peak weighted
    * concurrent audience, the number a TV panel actually reports
    * ("X million (weighted) viewers at the peak minute"): each
    * exposure contributes ±geo_weight instead of ±1, so the curve is
    * the projected audience level, not the panelist count. Same
    * deterministic sweep (ends before starts, tie permutations only
    * within equal-increment runs — increments now vary, so ordering
    * adds the weight as a final tiebreak to keep the multiset of
    * running values engine-identical); weights broadcast onto the
    * fold, integral so every partial sum is exact. */
  private val peakWeighted = Q(
    "q_peak_weighted",
    (s, dir) => {
      val weights = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("smba_id"),
          floor(abs(col("c_acctbal"))).cast("long").as("w"))
      val acr = ViewingData.acr(s, dir)
        .select(col("smba_id"), col("content_id"),
          col("exposure_start_ts"), col("exposure_end_ts"))
        .join(broadcast(weights), "smba_id")
      val deltas = acr
        .select(col("content_id"), col("exposure_start_ts").as("ts"), col("w").as("d"))
        .unionByName(acr.select(col("content_id"),
          col("exposure_end_ts").as("ts"), (-col("w")).as("d")))
      val wWin = Window.partitionBy("content_id").orderBy(col("ts"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas
        .withColumn("running", sum("d").over(wWin))
        .groupBy("content_id")
        .agg(max("running").as("peak_weighted_audience"))
    },
    Some(Queries.veCte + """,
wacr AS (
  SELECT a.content_id, a.exposure_start_ts, a.exposure_end_ts,
         CAST(floor(abs(c.c_acctbal)) AS BIGINT) AS w
  FROM acr a JOIN customer c ON CAST(c.c_custkey AS VARCHAR) = a.smba_id),
deltas AS (
  SELECT content_id, exposure_start_ts AS ts, w AS d FROM wacr
  UNION ALL
  SELECT content_id, exposure_end_ts AS ts, -w AS d FROM wacr),
curve AS (
  SELECT content_id,
         SUM(d) OVER (PARTITION BY content_id ORDER BY ts, d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM deltas)
SELECT content_id, CAST(MAX(running) AS BIGINT) AS peak_weighted_audience
FROM curve GROUP BY 1"""))

  /** WEIGHTED median — the panel statistic plain percentiles get
    * wrong (each viewer counts by geo weight, not once): smallest
    * duration whose cumulative weight reaches half the total. The
    * cumulative window uses a RANGE frame over the VALUE, so every
    * row of a tied duration carries the same cumulative weight — the
    * tie-safe formulation (a ROWS frame would give tied rows
    * different cumsums in nondeterministic order). Weights integral
    * (the ViewingData contract) → both engines compare exact longs.
    * One fact fold, weights broadcast, per-type windows on the folded
    * slice. */
  private val weightedMedian = Q(
    "q_weighted_median",
    (s, dir) => {
      val weights = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("smba_id"),
          floor(abs(col("c_acctbal"))).cast("long").as("w"))
      val ev = ViewingData.acr(s, dir)
        .select(col("smba_id"), col("content_type"), col("duration"))
        .join(broadcast(weights), "smba_id")
      val wv = Window.partitionBy("content_type").orderBy("duration")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("cum_w", sum("w").over(wv))
        .withColumn("total_w",
          sum("w").over(Window.partitionBy("content_type")))
        .filter(col("cum_w") * 2 >= col("total_w"))
        .groupBy("content_type")
        .agg(min("duration").as("weighted_median_duration"))
    },
    Some(Queries.veCte + """,
wev AS (
  SELECT a.content_type, a.duration,
         CAST(floor(abs(c.c_acctbal)) AS BIGINT) AS w
  FROM acr a JOIN customer c ON CAST(c.c_custkey AS VARCHAR) = a.smba_id),
cum AS (
  SELECT content_type, duration,
         SUM(w) OVER (PARTITION BY content_type ORDER BY duration
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         SUM(w) OVER (PARTITION BY content_type) AS total_w
  FROM wev)
SELECT content_type, MIN(duration) AS weighted_median_duration
FROM cum WHERE cum_w * 2 >= total_w GROUP BY 1"""))

  /** Rolling 7-row median of the daily event counts per type — the
    * robust smoother (a rolling MEAN chases the spike the median
    * ignores). Spark has no median window function, so the frame's
    * values collect into a bounded array (≤ 7 longs — bounded by the
    * FRAME, not the data) and the median is array arithmetic:
    * sort + middle element, or the mean of the two middles on even
    * prefixes, matching DuckDB's interpolating MEDIAN() OVER. ROWS
    * frame (the 7 previous observations), not calendar days — the
    * daily fold is gap-free here; a gapped series composes this on
    * top of C56's spine. */
  private val rollingMedian = Q(
    "q_rolling_median",
    (s, dir) => {
      val daily = ViewingData.table(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("win", sort_array(collect_list(col("n")).over(w)))
        .select(
          col("event_type"),
          col("day").cast("string").as("day"),
          col("n"),
          round(when(size(col("win")) % 2 === 1,
              element_at(col("win"),
                ((size(col("win")) + 1) / 2).cast("int")).cast("double"))
            .otherwise(
              (element_at(col("win"), (size(col("win")) / 2).cast("int")) +
                element_at(col("win"),
                  (size(col("win")) / 2 + 1).cast("int"))) / 2.0),
            1).as("rolling_median"))
    },
    Some("""WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, CAST(day AS VARCHAR) AS day, n,
       ROUND(MEDIAN(n) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 1)
         AS rolling_median
FROM daily"""))

  val all: Seq[Q] = Seq(anomalyMad, winsorize, markov, xcorr, sessionPaths,
    daypartIndex, growthAccounting, forecastSnaive, interpolate,
    peakConcurrency, peakWeighted, weightedMedian, rollingMedian)
}
