package graft

import org.apache.spark.sql.functions._

import graft.operators.{Barrier, RangeJoin}
import graft.sources.ViewingData

/** Round-7 scale operators: the join/aggregate shapes whose naive
  * declarative form stops working somewhere between 1 GB and 100 TB —
  * each entry pairs the correct result (DuckDB oracle) with the plan
  * that survives the scale-up, and a spec pins that plan.
  */
object QueriesScale {

  /** Point-in-interval range join ([[RangeJoin.intervalJoin]]): every
    * event landing inside a 30-minute window opened by each signup.
    * Written with no equality conjunct, Catalyst's only options are
    * BroadcastNestedLoopJoin or a cartesian product — |events| ×
    * |windows| comparisons, fatal with two large sides. The operator
    * rewrites it to a shuffle EQUI-join on time buckets (points keep
    * one bucket, intervals explode to the buckets they overlap, the
    * original predicate stays as a residual filter), so the plan
    * scales like any other keyed join — AQE skew split included.
    * RangeJoinSpec pins no-nested-loop + parity with the naive form. */
  private val rangeJoin = Q(
    "q_range_join",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      RangeJoin.intervalJoin(
          ev.select("event_id", "ts", "event_type", "value"),
          "ts", windows, "w_start", "w_end", bucketSeconds = 1800L)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_hits"),
          round(sum(col("value")), 2).as("value_sum"))
    },
    Some("""SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_hits,
       ROUND(SUM(e.value), 2) AS value_sum
FROM events e JOIN (
  SELECT ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end
  FROM events WHERE event_type = 'signup') w
ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY 1"""))

  /** Top-k per group as a MERGEABLE aggregate ([[plans.TopKByAgg]]):
    * the scale twin of q_topk_window. The window form shuffles EVERY
    * row to its group reducer for ranking; the k-bounded heap
    * pre-aggregates, so the shuffle carries at most k pairs per
    * (group, map task) — at 100 TB that is the difference between
    * shuffling the fact table and shuffling kilobytes. Result proven
    * identical to exact window ranking by the DuckDB oracle (the
    * (score DESC, id ASC) tiebreak makes both sides deterministic). */
  private val topkAgg = Q(
    "q_topk_agg",
    (s, dir) => {
      ViewingData.table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("topk_by(o_totalprice, o_orderkey, 3)").as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(
          col("o_orderpriority"),
          (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("o_orderkey"),
          round(col("col.score"), 2).as("price"))
    },
    Some("""SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey,
       ROUND(o_totalprice, 2) AS price
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t
WHERE rnk <= 3"""))

  /** The keyed range join ([[RangeJoin.intervalJoinKeyed]]): events
    * inside a 6-hour window opened by the SAME user's signup — the
    * panel-window enrichment shape (each exposure joined to its own
    * household's measurement window). The user key rides the shuffle
    * key next to the time bucket, so the join distributes by
    * (user, bucket) — finer than time alone — while staying an
    * ordinary equi-join for AQE purposes. */
  private val rangeJoinKeyed = Q(
    "q_range_join_keyed",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("w_user"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 6 HOURS")).as("w_end"))
      RangeJoin.intervalJoinKeyed(
          ev.select("event_id", "ts", "user_id", "event_type", "value"),
          "ts", Seq("user_id"),
          windows, "w_start", "w_end", Seq("w_user"),
          bucketSeconds = 21600L)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_hits"),
          round(sum(col("value")), 2).as("value_sum"))
    },
    Some("""SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_hits,
       ROUND(SUM(e.value), 2) AS value_sum
FROM events e JOIN (
  SELECT user_id AS w_user, ts AS w_start, ts + INTERVAL 6 HOUR AS w_end
  FROM events WHERE event_type = 'signup') w
ON e.user_id = w.w_user AND e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY 1"""))

  /** Heavy hitters per day via Spark 4's native `approx_top_k` — the
    * Apache DataSketches frequent-items sketch behind Snowflake's
    * APPROX_TOP_K family. Like the HLL/GK rows in this registry, the
    * sketch is a fixed-width mergeable summary, so each map task folds
    * its rows locally and the shuffle carries one small buffer per
    * (day, task) instead of the raw rows; the ACCUMULATE / COMBINE /
    * ESTIMATE trio (persist per-day sketches, answer any later range
    * from the sketches alone) is pinned in HeavyHittersSpec. The
    * sketch purges nothing while tracked items stay under
    * maxItemsTracked, so on a low-cardinality column its counts are
    * EXACT — which is what lets a plain GROUP BY oracle hash-verify a
    * sketch query (the approximate regime's guarantees are spec
    * territory, same split as q_hll_reach). */
  private val heavyHitters = Q(
    "q_heavy_hitters",
    (s, dir) =>
      ViewingData.table(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("approx_top_k(event_type, 5)").as("top"))
        .select(col("day").cast("string").as("day"), explode(col("top")))
        .select(col("day"), col("col.item").as("event_type"),
          col("col.count").cast("long").as("n")),
    Some("""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2"""))

  /** 7-day sliding reach from DAILY bitmap partials: the events table
    * is scanned ONCE into per-day exact user bitmaps
    * ([[plans.BitmapAgg]], map-side OR-merged), and every sliding
    * window is an OR of ≤7 tiny buffers — the raw-row form re-scans
    * (or re-shuffles) each event into all 7 windows it belongs to, 7×
    * the bytes before any combine. Same sketch-algebra shape as
    * q_hll_reach/q_bitmap_reach, extended to OVERLAPPING windows: the
    * day→window explode happens on |days| rows, not |events|. Exact,
    * so the whole thing oracle-checks against DuckDB COUNT(DISTINCT)
    * per window. */
  private val slidingReach = Q(
    "q_sliding_reach",
    (s, dir) => {
      val daily = Barrier.materialize(ViewingData.table(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("bitmap_agg(user_id)").as("bm")))._1 // tiny (one row/day); consumed twice below
      val contrib = daily
        .withColumn("off", explode(sequence(lit(0), lit(6))))
        .select(date_add(col("day"), col("off")).as("win_day"), col("bm"))
      contrib
        .join(daily.select(col("day").as("win_day")), Seq("win_day"), "left_semi")
        .groupBy("win_day")
        .agg(expr("bitmap_or_count(bm)").as("reach_7d"))
        .select(col("win_day").cast("string").as("day"), col("reach_7d"))
    },
    Some("""WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS reach_7d
FROM days d JOIN events e
  ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
GROUP BY 1"""))

  /** Deterministic per-group reservoir sample — OPERATOR REUSE, not a
    * new kernel: a uniform k-reservoir is exactly top-k by a
    * pseudo-random priority (Efraimidis-Spirakis with equal weights),
    * so [[plans.TopKByAgg]]'s mergeable heap IS the distributed
    * reservoir — k rows per (group, map task) on the wire, merge keeps
    * the k best priorities. Priority = first 13 hex digits of
    * md5(event_id) (52 bits — exact in double), the same cross-engine
    * derivation the sampling family (q_sample_stratified/_weighted)
    * already pins, so exact window ranking in DuckDB verifies the
    * draw. */
  private val sampleReservoir = Q(
    "q_sample_reservoir",
    (s, dir) => {
      ViewingData.table(s, dir, "events")
        .groupBy("event_type")
        .agg(expr(
          """topk_by(
             cast(conv(substring(md5(cast(cast(event_id as string) as binary)), 1, 13), 16, 10) as double),
             event_id, 10)""").as("res"))
        .select(col("event_type"), posexplode(col("res")))
        .select(
          col("event_type"),
          (col("pos") + 1).cast("long").as("draw_rank"),
          col("col.id").as("event_id"))
    },
    Some("""SELECT event_type, CAST(rn AS BIGINT) AS draw_rank, event_id
FROM (SELECT event_type, event_id,
        row_number() OVER (PARTITION BY event_type
          ORDER BY substring(md5(CAST(event_id AS VARCHAR)), 1, 13) DESC,
                   event_id) AS rn
      FROM events) t
WHERE rn <= 10"""))

  /** Dense global sample ids ([[operators.GlobalIndex]]): contiguous
    * 0-based numbering in doc_id order via range-partition +
    * per-partition offsets — `row_number()` with no PARTITION BY
    * funnels 100 TB through one task; this form's only serial state is
    * the |partitions|-long count array on the driver. Ids proven
    * identical to the window form by the oracle. */
  private val globalIndex = Q(
    "q_global_index",
    (s, dir) =>
      graft.operators.GlobalIndex.assign(
          ViewingData.table(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "global_id", partitions = 8)
        .select("doc_id", "lang", "global_id"),
    Some("""SELECT doc_id, lang,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_id
FROM documents"""))

  /** Gap-fill + LOCF resample (Snowflake GENERATOR + LAG IGNORE NULLS;
    * TimescaleDB time_bucket_gapfill): every (user, day) on a complete
    * daily spine, missing days carrying the last observed value
    * forward. Scale shape: the spine is |users| × |days| built from a
    * broadcast one-row bounds frame (no driver action), the
    * observation join is keyed on (user, day), and the fill is a
    * PARTITIONED running window — per-user state, never a global
    * sort. Leading days before a user's first observation stay null,
    * exactly like the SQL form — the oracle pins all of it. */
  private val gapFill = Q(
    "q_gap_fill",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = ViewingData.table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      // ONE events scan: users and bounds derive from the (tiny)
      // daily aggregate, not from re-reads of the fact table
      val daily = Barrier.materialize(ev.groupBy("user_id", "day").agg(max("value").as("v")))._1
      val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = daily.select("user_id").distinct()
        .crossJoin(bounds) // one-row frame — broadcast fan-out, no shuffle
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(
          col("user_id"),
          col("day").cast("string").as("day"),
          round(last(col("v"), ignoreNulls = true).over(w), 2).as("value_filled"))
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
              FROM bounds) gs)
SELECT s.user_id, CAST(s.day AS VARCHAR) AS day,
       ROUND(LAST_VALUE(d.v IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value_filled
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day"""))

  /** Row-pattern matching (Snowflake MATCH_RECOGNIZE, the funnel
    * family's general form): each user's event-type sequence — ordered
    * by (ts, event_id), one char per event — matched against a regex
    * (`s[cv]*p`: signup, any clicks/views, purchase, CONTIGUOUS — the
    * adjacency no join/funnel count can express). Scale shape: ONE
    * per-user shuffle; the packed sequence is bytes-per-event × events
    * per user (the same per-entity bound q_funnel documents, with the
    * same mitigation ladder), and the regex runs at scan speed on the
    * aggregated rows. Non-overlapping greedy match counts agree
    * between Java regex and DuckDB's RE2 for this pattern class —
    * which the hash-matching oracle proves, per user. */
  private val matchRecognize = Q(
    "q_match_recognize",
    (s, dir) =>
      ViewingData.table(s, dir, "events")
        .groupBy("user_id")
        .agg(array_join(
          transform(
            sort_array(collect_list(struct(
              col("ts"), col("event_id"),
              substring(col("event_type"), 1, 1).as("c")))),
            x => x.getField("c")),
          "").as("seq"))
        .select(
          col("user_id"),
          regexp_count(col("seq"), lit("s[cv]*p")).cast("long").as("n_matches"),
          (regexp_count(col("seq"), lit("s[cv]*p")) > 0).cast("long").as("matched")),
    Some("""WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY 1)
SELECT user_id,
       CAST(len(regexp_extract_all(s, 's[cv]*p')) AS BIGINT) AS n_matches,
       CAST(CASE WHEN regexp_matches(s, 's[cv]*p') THEN 1 ELSE 0 END
            AS BIGINT) AS matched
FROM seq"""))

  /** TPC-H Q3-shaped selective 3-way star join: the filters are
    * declared on each input and MUST reach the scans (pushdown), the
    * filtered customer dim should broadcast, and the fact join keys
    * drive the only shuffles. A multi-join left declarative so
    * Catalyst's reorder + broadcast thresholds do their job — the
    * plan shape every BI query at 100 TB reduces to. */
  private val starJoin3 = Q(
    "q_star_join3",
    (s, dir) =>
      ViewingData.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(ViewingData.table(s, dir, "orders")
          .filter(col("o_orderdate") < expr("TIMESTAMP'1998-01-01 00:00:00'")),
          col("c_custkey") === col("o_custkey"))
        .join(ViewingData.table(s, dir, "lineitem")
          .filter(col("l_shipdate") > expr("TIMESTAMP'1996-01-01 00:00:00'")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("string").as("odate"),
          col("o_orderpriority"))
        // floor-per-row BEFORE the sum: the per-row product is one
        // IEEE op (identical in both engines); the integral sum is
        // then order-independent — no last-cent rounding flips across
        // thousands of groups (the repo's integral-measure rule)
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("long").as("revenue")),
    Some("""SELECT l_orderkey, CAST(o_orderdate AS VARCHAR) AS odate,
       o_orderpriority,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
            AS BIGINT) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY 1, 2, 3"""))

  /** TPC-H Q5-shaped 6-way join (region→nation→customer→orders→
    * lineitem→supplier, with the supplier-nation = customer-nation
    * local-supply condition): the enum dims chain into broadcasts,
    * the two fact-sized tables meet on their join key once. Catalyst
    * must compose five joins without a cartesian and keep every dim
    * off the shuffle path — pinned in PlanAuditSpec. */
  private val starJoin6 = Q(
    "q_star_join6",
    (s, dir) =>
      ViewingData.table(s, dir, "region")
        .join(ViewingData.table(s, dir, "nation"),
          col("n_regionkey") === col("r_regionkey"))
        .join(ViewingData.table(s, dir, "customer"),
          col("c_nationkey") === col("n_nationkey"))
        .join(ViewingData.table(s, dir, "orders"),
          col("o_custkey") === col("c_custkey"))
        .join(ViewingData.table(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .join(ViewingData.table(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("long").as("revenue")),
    Some("""SELECT r_name, n_name,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
            AS BIGINT) AS revenue
FROM region JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
GROUP BY 1, 2"""))

  /** Window DISTRIBUTION functions: percent_rank / cume_dist / ntile
    * alignment across engines (deterministic under the unique
    * (o_totalprice, o_orderkey) order). Rounds the two ratios — they
    * are exact k/n rationals in both engines, rounding only normalizes
    * the decimal print. */
  private val windowDist = Q(
    "q_window_dist",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      ViewingData.table(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0) // small deterministic slice
        .select(
          col("o_orderkey"),
          col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          ntile(4).over(w).cast("long").as("quartile"))
    },
    Some("""SELECT o_orderkey, o_orderpriority,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM orders
WHERE o_orderkey % 100 = 0
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)"""))

  /** Schema-evolution UNION (`unionByName(allowMissingColumns)` ≡
    * DuckDB `UNION ALL BY NAME`): the v1 feed lacks columns the v2
    * feed added — absent columns fill with NULL, names align by NAME
    * not position. The everyday shape of reading a feed across a
    * schema migration. */
  private val unionEvolve = Q(
    "q_union_evolve",
    (s, dir) => {
      val v1 = ViewingData.table(s, dir, "events")
        .filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"))
      val v2 = ViewingData.table(s, dir, "events")
        .filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("event_type"),
          col("value"), col("user_id"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          round(sum(col("value")), 2).as("value_sum"))
    },
    Some("""WITH unioned AS (
  SELECT event_id, event_type FROM events WHERE event_id % 2 = 0
  UNION ALL BY NAME
  SELECT event_id, event_type, value, user_id FROM events
  WHERE event_id % 2 = 1)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(value) AS BIGINT) AS n_with_value,
       ROUND(SUM(value), 2) AS value_sum
FROM unioned GROUP BY 1"""))

  /** DYNAMIC pivot (Snowflake `PIVOT ... IN (ANY)`) as the production
    * two-phase plan: phase 1 is one tiny distinct over the pivot
    * column (driver control-plane — the value list IS schema, it must
    * reach the driver in any engine); phase 2 is a STATIC pivot over
    * that list, so the main scan gets the same single-pass
    * conditional-aggregation plan as q_pivot — no second pass over the
    * fact table, no per-value jobs. Values are sorted for a
    * deterministic column order; the oracle states the (data-
    * deterministic) names explicitly. */
  private val pivotDynamic = Q(
    "q_pivot_dynamic",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      // null pivot values are dropped (no engine makes a NULL column;
      // flatMap also keeps .sorted from NPEing on a null element)
      val values = ev.select("event_type").distinct()
        .collect().flatMap(r => Option(r.getString(0))).sorted.toSeq
      ev.groupBy(to_date(col("ts")).cast("string").as("day"))
        .pivot("event_type", values)
        .agg(count(lit(1)))
    },
    Some("""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY 1"""))

  /** CO-VIEWING detection — the range family's third member put to
    * work: `RangeJoin.intervalOverlapJoin` (SQL:2011 OVERLAPS as a
    * bucketed equi-join; every overlapping pair meets EXACTLY once,
    * in its canonical max-start bucket — no dedup pass) self-joins
    * the exposure intervals per content, distinct users only
    * (a < b), emitting pair counts and total overlapped seconds —
    * the shared-audience signal co-viewing panels sell. The Spark
    * side's candidate volume is bucket-bounded; the oracle runs the
    * content-keyed brute force (tractable at oracle SF). */
  /** Cumulative REACH CURVE — "how the campaign's audience builds by
    * day" (the planner's diminishing-returns readout, and the daily
    * delta = INCREMENTAL reach, the number that decides when to stop
    * buying): running OR of the same daily bitmap partials C55 slides
    * — one events scan into |days| exact bitmaps, a day≤target
    * triangle explode on the |days|-row fold (≈ days²/2 tiny buffer
    * merges, never touching raw rows again), plus LAG for the daily
    * increment. Exact, so DuckDB COUNT(DISTINCT ... WHERE day ≤ d)
    * hash-checks every point on the curve. */
  private val reachCurve = Q(
    "q_reach_curve",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Barrier.materialize(ViewingData.table(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("bitmap_agg(user_id)").as("bm")))._1
      val targets = daily.select(col("day").as("as_of"))
      val cum = targets
        .join(daily, col("day") <= col("as_of"))
        .groupBy("as_of")
        .agg(expr("bitmap_or_count(bm)").as("cum_reach"))
      cum
        .withColumn("new_reach",
          col("cum_reach") -
            coalesce(lag("cum_reach", 1)
              .over(Window.orderBy("as_of")), lit(0L)))
        .select(col("as_of").cast("string").as("as_of"),
          col("cum_reach"), col("new_reach"))
    },
    Some("""WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
cum AS (
  SELECT d.day AS as_of, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS cum_reach
  FROM days d JOIN events e ON CAST(e.ts AS DATE) <= d.day
  GROUP BY 1)
SELECT CAST(as_of AS VARCHAR) AS as_of, cum_reach,
       cum_reach - COALESCE(LAG(cum_reach) OVER (ORDER BY as_of), 0) AS new_reach
FROM cum"""))

  private val coviewing = Q(
    "q_coviewing",
    (s, dir) => {
      val acr = ViewingData.acr(s, dir)
        .select(col("smba_id"), col("content_id"),
          col("exposure_start_ts"), col("exposure_end_ts"))
      val a = acr.select(col("smba_id").as("a_user"),
        col("content_id").as("a_content"),
        col("exposure_start_ts").as("a_start"), col("exposure_end_ts").as("a_end"))
      val b = acr.select(col("smba_id").as("b_user"),
        col("content_id").as("b_content"),
        col("exposure_start_ts").as("b_start"), col("exposure_end_ts").as("b_end"))
      RangeJoin.intervalOverlapJoin(
          a, "a_start", "a_end", Seq("a_content"),
          b, "b_start", "b_end", Seq("b_content"), bucketSeconds = 1800L)
        .filter(col("a_user") < col("b_user"))
        .groupBy(col("a_content").as("content_id"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(least(col("a_end"), col("b_end")) -
            greatest(col("a_start"), col("b_start"))).as("overlap_sec"))
    },
    Some(Queries.veCte + """,
samp AS (
  SELECT smba_id, content_id, exposure_start_ts, exposure_end_ts
  FROM acr
  WHERE exposure_start_ts < exposure_end_ts),
p AS (
  SELECT a.content_id,
         LEAST(a.exposure_end_ts, b.exposure_end_ts)
           - GREATEST(a.exposure_start_ts, b.exposure_start_ts) AS ov
  FROM samp a JOIN samp b
    ON a.content_id = b.content_id
   AND a.smba_id < b.smba_id
   AND a.exposure_start_ts < b.exposure_end_ts
   AND b.exposure_start_ts < a.exposure_end_ts)
SELECT content_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(ov) AS BIGINT) AS overlap_sec
FROM p GROUP BY 1"""))

  val all: Seq[Q] =
    Seq(rangeJoin, rangeJoinKeyed, topkAgg, heavyHitters, slidingReach,
      sampleReservoir, globalIndex, gapFill, matchRecognize, starJoin3,
      starJoin6, windowDist, unionEvolve, pivotDynamic, coviewing, reachCurve)
}
