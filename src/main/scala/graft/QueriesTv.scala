package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Barrier
import graft.sources.ViewingData

/** TV-measurement analytics beyond the reference's rollup — the
  * metrics an audience-measurement customer derives FROM the
  * reference's tables (reference: the v_audience_metrics readout
  * family, etl-ddl-backfill.sql:188-218): binge runs, network
  * rating/share, and viewer-concentration quintiles. All three are
  * single-fact-exchange shapes with integral arithmetic up to one
  * final division, so the DuckDB oracles hash-match exactly.
  */
object QueriesTv {

  /** Binge-viewing runs (C113) — per (viewer, title): program
    * exposures ordered by start, a new RUN whenever the gap from the
    * previous exposure's END exceeds 4 h, runs of ≥ 3 exposures
    * reported with span and total duration. The sessionize/islands
    * gap-and-island pattern at binge granularity (sessions gap at
    * 300 s within ONE sitting; binge gaps span sittings of the same
    * title). Scale shape: ONE exchange on (smba_id, title) — the
    * lag window, the run-id cumsum, and the run aggregate all ride
    * it; ordering carries (start, end, event_id) so ties are total
    * (the sessCte discipline). */
  private val bingeSessions = Q(
    "q_binge_sessions",
    (s, dir) => {
      val prog = ViewingData.acr(s, dir)
        .filter(col("content_type") === "program")
        .select(col("smba_id"), col("title"), col("event_id"),
          col("exposure_start_ts"), col("exposure_end_ts"), col("duration"))
      val ord = Window.partitionBy("smba_id", "title")
        .orderBy(col("exposure_start_ts"), col("exposure_end_ts"), col("event_id"))
      val runs = prog
        .withColumn("gap",
          col("exposure_start_ts") - lag("exposure_end_ts", 1).over(ord))
        .withColumn("brk",
          when(col("gap").isNull || col("gap") > 14400L, 1L).otherwise(0L))
        .withColumn("run_id", sum("brk").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      runs.groupBy("smba_id", "title", "run_id")
        .agg(count(lit(1)).as("n_views"),
          min("exposure_start_ts").as("binge_start_ts"),
          max("exposure_end_ts").as("binge_end_ts"),
          sum("duration").as("total_duration"))
        .filter(col("n_views") >= 3)
        .withColumnRenamed("run_id", "binge_id")
    },
    Some(Queries.veCte + """,
prog AS (
  SELECT smba_id, title, event_id, exposure_start_ts, exposure_end_ts, duration
  FROM acr WHERE content_type = 'program'),
g AS (
  SELECT *, exposure_start_ts - LAG(exposure_end_ts) OVER w AS gap
  FROM prog
  WINDOW w AS (PARTITION BY smba_id, title
               ORDER BY exposure_start_ts, exposure_end_ts, event_id)),
r AS (
  SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 14400 THEN 1 ELSE 0 END)
            OVER (PARTITION BY smba_id, title
                  ORDER BY exposure_start_ts, exposure_end_ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM g)
SELECT smba_id, title, CAST(run_id AS BIGINT) AS binge_id,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(MIN(exposure_start_ts) AS BIGINT) AS binge_start_ts,
       CAST(MAX(exposure_end_ts) AS BIGINT) AS binge_end_ts,
       CAST(SUM(duration) AS BIGINT) AS total_duration
FROM r GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3"""))

  /** Network rating & share (C114) — the two numbers a ratings book
    * prints per network: rating_pct = average weighted audience as a
    * percentage of the weighted UNIVERSE (Σ dur·w over U·T, where U =
    * total panel weight and T = the measured span), share_pct = this
    * network's weighted viewing over ALL weighted viewing. Arithmetic
    * is exact-integer until one final division each (durations and
    * weights are integral — the ViewingData contract), so both
    * engines hash-match at round 9. The one exception is the rating
    * denominator u_weight·t_span: u_weight grows linearly with scale
    * factor (~6.75e8 at SF1) and t_span is ~1e7-1e8 s, so the BIGINT
    * product overflows (loudly, under ANSI/DuckDB) a few hundred ×
    * up — it is computed in DOUBLE on BOTH engines (same IEEE
    * product, still hash-matching) to keep the row alive at high
    * scale factors. Scale shape: weights broadcast
    * onto ONE program-event scan; the per-network fold is
    * |networks|-sized; U and T are one-row frames cross-joined back —
    * no second fact pass. */
  private val ratingsShare = Q(
    "q_ratings_share",
    (s, dir) => {
      val weights = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("smba_id"),
          floor(abs(col("c_acctbal"))).cast("long").as("w"))
      val prog = Barrier.materialize(ViewingData.acr(s, dir)
        .filter(col("content_type") === "program")
        .select(col("smba_id"), col("network"),
          col("duration"), col("exposure_start_ts"), col("exposure_end_ts"))
        .join(broadcast(weights), "smba_id"))._1 // feeds the network fold AND the span frame
      val byNet = prog.groupBy("network")
        .agg(sum(col("duration") * col("w")).as("wdur"))
      val universe = broadcast(
        weights.agg(sum("w").as("u_weight")))
      val span = broadcast(prog.agg(
        (max("exposure_end_ts") - min("exposure_start_ts")).as("t_span")))
      val total = broadcast(byNet.agg(sum("wdur").as("wdur_all")))
      byNet.crossJoin(universe).crossJoin(span).crossJoin(total)
        .select(col("network"), col("wdur").as("weighted_view_seconds"),
          round(lit(100.0) * col("wdur") /
            (col("u_weight").cast("double") * col("t_span")), 9)
            .as("rating_pct"),
          round(lit(100.0) * col("wdur") / col("wdur_all"), 9).as("share_pct"))
    },
    Some(Queries.veCte + """,
w AS (SELECT CAST(c_custkey AS VARCHAR) AS smba_id,
             CAST(floor(abs(c_acctbal)) AS BIGINT) AS wt
      FROM customer),
prog AS (
  SELECT a.network, a.duration, a.exposure_start_ts, a.exposure_end_ts, w.wt
  FROM acr a JOIN w ON w.smba_id = a.smba_id
  WHERE a.content_type = 'program'),
bynet AS (
  SELECT network, CAST(SUM(duration * wt) AS BIGINT) AS wdur
  FROM prog GROUP BY 1),
u AS (SELECT CAST(SUM(wt) AS BIGINT) AS u_weight FROM w),
t AS (SELECT CAST(MAX(exposure_end_ts) - MIN(exposure_start_ts) AS BIGINT) AS t_span
      FROM prog),
tot AS (SELECT CAST(SUM(wdur) AS BIGINT) AS wdur_all FROM bynet)
SELECT network, wdur AS weighted_view_seconds,
       round(100.0 * wdur / (CAST(u_weight AS DOUBLE) * t_span), 9) AS rating_pct,
       round(100.0 * wdur / wdur_all, 9) AS share_pct
FROM bynet CROSS JOIN u CROSS JOIN t CROSS JOIN tot"""))

  /** Viewer-concentration quintiles (C115) — "the heaviest 20% of
    * viewers account for X% of viewing": fold total program seconds
    * per viewer, NTILE(5) heaviest-first (ties broken by id for a
    * total order), then per quintile the viewer count, seconds, and
    * share of all viewing. The fold shrinks the fact table to
    * |viewers| BEFORE any window touches it, so the ntile sorts the
    * entity fold, never the corpus; sums stay integral to the one
    * final share division. */
  private val heavyViewers = Q(
    "q_heavy_viewers",
    (s, dir) => {
      val perViewer = ViewingData.acr(s, dir)
        .filter(col("content_type") === "program")
        .groupBy("smba_id")
        .agg(sum("duration").as("view_seconds"))
      val ranked = perViewer.withColumn("quintile",
        ntile(5).over(Window.orderBy(
          col("view_seconds").desc, col("smba_id").asc)))
      val byQ = ranked.groupBy("quintile")
        .agg(count(lit(1)).as("n_viewers"),
          sum("view_seconds").as("view_seconds"))
      val total = broadcast(byQ.agg(sum("view_seconds").as("all_seconds")))
      byQ.crossJoin(total)
        .select(col("quintile"), col("n_viewers"), col("view_seconds"),
          round(lit(100.0) * col("view_seconds") / col("all_seconds"), 9)
            .as("share_pct"))
    },
    Some(Queries.veCte + """,
pv AS (
  SELECT smba_id, CAST(SUM(duration) AS BIGINT) AS view_seconds
  FROM acr WHERE content_type = 'program' GROUP BY 1),
rk AS (
  SELECT *, NTILE(5) OVER (ORDER BY view_seconds DESC, smba_id ASC) AS quintile
  FROM pv),
byq AS (
  SELECT quintile, CAST(COUNT(*) AS BIGINT) AS n_viewers,
         CAST(SUM(view_seconds) AS BIGINT) AS view_seconds
  FROM rk GROUP BY 1),
tot AS (SELECT CAST(SUM(view_seconds) AS BIGINT) AS all_seconds FROM byq)
SELECT CAST(quintile AS INTEGER) AS quintile, n_viewers, view_seconds,
       round(100.0 * view_seconds / all_seconds, 9) AS share_pct
FROM byq CROSS JOIN tot"""))

  /** Audience duplication matrix (C116) — for every ordered network
    * pair (a, b): the weighted audience watching BOTH, and what share
    * of a's weighted audience that is ("X% of net-1's viewers also
    * watch net-4" — the duplication table behind reach/frequency
    * planning). Scale shape: the fact folds to DISTINCT
    * (viewer, network) in one exchange, weights broadcast on, then
    * the pair explode is VIEWER-LOCAL (a viewer watches ≤ |networks|
    * nets, so ≤ |networks|² pairs each) — never a fact-scale
    * self-join; the final fold is |networks|²-sized. Integral sums
    * to one final division. */
  private val audienceDuplication = Q(
    "q_audience_duplication",
    (s, dir) => {
      val weights = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("smba_id"),
          floor(abs(col("c_acctbal"))).cast("long").as("w"))
      // ONE fact exchange: collect_set dedupes, so the per-viewer
      // network-set fold subsumes the DISTINCT, and BOTH downstream
      // folds (pair overlap and per-network totals) derive from the
      // entity-sized sets frame — the fact is scanned once
      val sets = Barrier.materialize(ViewingData.acr(s, dir)
        .filter(col("content_type") === "program")
        .select(col("smba_id"), col("network"))
        .join(broadcast(weights), "smba_id")
        .groupBy("smba_id", "w").agg(collect_set("network").as("ns")))._1
      val both = sets
        .select(col("w"), explode(col("ns")).as("net_a"), col("ns"))
        .select(col("w"), col("net_a"), explode(col("ns")).as("net_b"))
        .filter(col("net_a") =!= col("net_b"))
        .groupBy("net_a", "net_b").agg(sum("w").as("w_both"))
      val per = sets.select(col("w"), explode(col("ns")).as("net_a"))
        .groupBy("net_a").agg(sum("w").as("w_a"))
      both.join(broadcast(per), "net_a")
        .select(col("net_a"), col("net_b"), col("w_both"),
          round(lit(100.0) * col("w_both") / col("w_a"), 9).as("dup_pct"))
    },
    Some(Queries.veCte + """,
w AS (SELECT CAST(c_custkey AS VARCHAR) AS smba_id,
             CAST(floor(abs(c_acctbal)) AS BIGINT) AS wt
      FROM customer),
nv AS (SELECT DISTINCT smba_id, network
       FROM acr WHERE content_type = 'program'),
nw AS (SELECT nv.smba_id, nv.network, w.wt
       FROM nv JOIN w ON w.smba_id = nv.smba_id),
dup AS (
  SELECT x.network AS net_a, y.network AS net_b,
         CAST(SUM(x.wt) AS BIGINT) AS w_both
  FROM nw x JOIN nw y ON x.smba_id = y.smba_id AND x.network <> y.network
  GROUP BY 1, 2),
per AS (SELECT network AS net_a, CAST(SUM(wt) AS BIGINT) AS w_a
        FROM nw GROUP BY 1)
SELECT net_a, net_b, w_both,
       round(100.0 * w_both / w_a, 9) AS dup_pct
FROM dup JOIN per USING (net_a)"""))

  /** Playback windows (C117) — live/+3/+7/older viewing mix: every
    * program exposure's delay = days between its viewing date and the
    * content's release date, bucketed into the measurement windows a
    * ratings book reports (live, days 1-3, days 4-7, 8+), weighted
    * seconds and within-network share per bucket. Scale shape: ONE
    * fact scan with weights broadcast on; the delay/bucket columns
    * are per-row expressions; two |networks·4|-sized folds. Integral
    * sums to one final division. */
  private val playbackWindows = Q(
    "q_playback_windows",
    (s, dir) => {
      val weights = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("smba_id"),
          floor(abs(col("c_acctbal"))).cast("long").as("w"))
      val prog = ViewingData.acr(s, dir)
        .filter(col("content_type") === "program")
        .select(col("smba_id"), col("network"), col("duration"),
          col("metadata_date"), col("release_date"))
        .join(broadcast(weights), "smba_id")
        .withColumn("delay", datediff(col("metadata_date"), col("release_date")))
        .withColumn("pwindow",
          // delay < 0 (metadata_date before release_date — data noise
          // or pre-release exposure) gets its OWN bucket rather than
          // silently landing in d1_3 via the <=3 fallthrough (r9
          // advice): an anomaly share a ratings QA pass can see
          when(col("delay") < 0, "pre_release")
            .when(col("delay") === 0, "live")
            .when(col("delay") <= 3, "d1_3")
            .when(col("delay") <= 7, "d4_7")
            .otherwise("d8_plus"))
      val byWin = prog.groupBy("network", "pwindow")
        .agg(sum(col("duration") * col("w")).as("weighted_seconds"))
      val byNet = byWin.groupBy(col("network"))
        .agg(sum("weighted_seconds").as("net_seconds"))
      byWin.join(broadcast(byNet), "network")
        .select(col("network"), col("pwindow"), col("weighted_seconds"),
          round(lit(100.0) * col("weighted_seconds") / col("net_seconds"), 9)
            .as("window_share_pct"))
    },
    Some(Queries.veCte + """,
w AS (SELECT CAST(c_custkey AS VARCHAR) AS smba_id,
             CAST(floor(abs(c_acctbal)) AS BIGINT) AS wt
      FROM customer),
prog AS (
  SELECT a.network, a.duration, w.wt,
         date_diff('day', a.release_date, a.metadata_date) AS delay
  FROM acr a JOIN w ON w.smba_id = a.smba_id
  WHERE a.content_type = 'program'),
bywin AS (
  SELECT network,
         CASE WHEN delay < 0 THEN 'pre_release'
              WHEN delay = 0 THEN 'live'
              WHEN delay <= 3 THEN 'd1_3'
              WHEN delay <= 7 THEN 'd4_7'
              ELSE 'd8_plus' END AS pwindow,
         CAST(SUM(duration * wt) AS BIGINT) AS weighted_seconds
  FROM prog GROUP BY 1, 2),
bynet AS (SELECT network, CAST(SUM(weighted_seconds) AS BIGINT) AS net_seconds
          FROM bywin GROUP BY 1)
SELECT b.network, b.pwindow, b.weighted_seconds,
       round(100.0 * b.weighted_seconds / n.net_seconds, 9) AS window_share_pct
FROM bywin b JOIN bynet n ON n.network = b.network"""))

  /** Audience flow / lead-in retention (C118) — per (network, half-
    * hour slot): how much of the slot's audience stays for the NEXT
    * slot on the same network, the "lead-in" number schedulers plan
    * against. Uses the scheduled half-hour grid the feed already
    * carries (scheduled_program_start_ts). Scale shape: ONE
    * (network, smba_id) exchange carries BOTH windows — a lag marks
    * duplicate slots (subsuming the DISTINCT without a wider-keyed
    * shuffle), and after the dup filter a lead on the SAME window
    * spec (no re-exchange, no re-sort: slots are already unique and
    * ascending within the partition) yields the retention flag as
    * `lead(slot) = slot + 1800`. O(1) state per row — the previous
    * collect_set form held the viewer's whole slot set in memory and
    * replicated it ×|slots| through an explode, which stops being
    * "a few hundred" on a multi-year feed (~17k half-hour slots per
    * viewer-year); the readout fold stays |network × slots|-sized.
    * Integral counts to one division. */
  private val audienceFlow = Q(
    "q_audience_flow",
    (s, dir) => {
      val win = Window.partitionBy("network", "smba_id").orderBy("slot")
      val perSlot = ViewingData.acr(s, dir)
        .filter(col("content_type") === "program")
        .select(col("network"), col("smba_id"),
          col("scheduled_program_start_ts").as("slot"))
        .withColumn("dup", lag("slot", 1).over(win) === col("slot"))
        .filter(col("dup").isNull || !col("dup"))
        .withColumn("ret",
          when(lead("slot", 1).over(win) === col("slot") + 1800L, 1L)
            .otherwise(0L))
      perSlot.groupBy("network", "slot")
        .agg(count(lit(1)).as("n_viewers"), sum("ret").as("n_retained"))
        .select(col("network"), col("slot"), col("n_viewers"), col("n_retained"),
          round(lit(100.0) * col("n_retained") / col("n_viewers"), 9)
            .as("retention_pct"))
    },
    Some(Queries.veCte + """,
vs AS (SELECT DISTINCT network, scheduled_program_start_ts AS slot, smba_id
       FROM acr WHERE content_type = 'program'),
nxt AS (
  SELECT a.network, a.slot, a.smba_id,
         CASE WHEN b.smba_id IS NOT NULL THEN 1 ELSE 0 END AS ret
  FROM vs a LEFT JOIN vs b
    ON b.network = a.network AND b.smba_id = a.smba_id
   AND b.slot = a.slot + 1800)
SELECT network, slot, CAST(COUNT(*) AS BIGINT) AS n_viewers,
       CAST(SUM(ret) AS BIGINT) AS n_retained,
       round(100.0 * SUM(ret) / COUNT(*), 9) AS retention_pct
FROM nxt GROUP BY 1, 2"""))

  /** Campaign GRPs (C119) — the ad-side readout of the weighted
    * events the reference's DAG produces (etl-ddl-backfill.sql's
    * weighted_events feed ads too): per ad content_id, weighted
    * impressions over the panel universe as gross rating points
    * (GRP = 100 · Σ w_impressions / U), weighted reach (Σ w over
    * DISTINCT viewers), and average frequency (weighted impressions
    * / weighted reach). Scale shape: weights broadcast onto ONE
    * ad-filtered fact scan feeding both the impression fold and the
    * distinct-viewer reach fold (the checkpoint shares the scan);
    * U is a one-row cross join. Integral sums to the two final
    * divisions. */
  private val adGrp = Q(
    "q_ad_grp",
    (s, dir) => {
      val weights = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("smba_id"),
          floor(abs(col("c_acctbal"))).cast("long").as("w"))
      val ads = Barrier.materialize(ViewingData.acr(s, dir)
        .filter(col("content_type") === "ad")
        .select(col("smba_id"), col("content_id"))
        .join(broadcast(weights), "smba_id"))._1 // impressions fold AND reach fold
      val impressions = ads.groupBy("content_id")
        .agg(count(lit(1)).as("impressions"), sum("w").as("w_impressions"))
      val reach = ads.select("content_id", "smba_id", "w").distinct()
        .groupBy("content_id").agg(sum("w").as("w_reach"))
      val universe = broadcast(weights.agg(sum("w").as("u_weight")))
      impressions.join(reach, "content_id").crossJoin(universe)
        .select(col("content_id"), col("impressions"), col("w_reach"),
          round(lit(100.0) * col("w_impressions") / col("u_weight"), 9).as("grp"),
          round(col("w_impressions") / col("w_reach"), 9).as("avg_frequency"))
    },
    Some(Queries.veCte + """,
w AS (SELECT CAST(c_custkey AS VARCHAR) AS smba_id,
             CAST(floor(abs(c_acctbal)) AS BIGINT) AS wt
      FROM customer),
ads AS (
  SELECT a.content_id, a.smba_id, w.wt
  FROM acr a JOIN w ON w.smba_id = a.smba_id
  WHERE a.content_type = 'ad'),
imp AS (
  SELECT content_id, CAST(COUNT(*) AS BIGINT) AS impressions,
         CAST(SUM(wt) AS BIGINT) AS w_impressions
  FROM ads GROUP BY 1),
rch AS (
  SELECT content_id, CAST(SUM(wt) AS BIGINT) AS w_reach
  FROM (SELECT DISTINCT content_id, smba_id, wt FROM ads) GROUP BY 1),
u AS (SELECT CAST(SUM(wt) AS BIGINT) AS u_weight FROM w)
SELECT imp.content_id, impressions, w_reach,
       round(100.0 * w_impressions / u_weight, 9) AS grp,
       round(CAST(w_impressions AS DOUBLE) / w_reach, 9) AS avg_frequency
FROM imp JOIN rch ON rch.content_id = imp.content_id CROSS JOIN u"""))

  val all: Seq[Q] = Seq(bingeSessions, ratingsShare, heavyViewers, audienceFlow, adGrp,
    audienceDuplication, playbackWindows)
}
