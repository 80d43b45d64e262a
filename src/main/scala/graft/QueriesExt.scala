package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Barrier, Components, DocPack}
import graft.sources.ViewingData

/** Round-2 breadth: the Snowflake-surface capabilities the reference's
  * SQL dialect implies beyond SURVEY §2's round-1 inventory —
  * semi-structured (VARIANT-path ≡ JSON) access, LISTAGG, GROUPING
  * SETS, QUALIFY, LATERAL, RANGE window frames, window navigation,
  * deterministic sampling — plus training-pipeline ops: near-dup
  * connected-component canonicalization, approximate aggregates, text
  * normalization.
  */
object QueriesExt {

  /** VARIANT-path access (reference ingest-dag.sql's `$1:field::TYPE`
    * casts are exactly this): JSON path extraction + typed cast over
    * the events.props JSON column. get_json_object is a codegen'd
    * expression — runs at scan speed; missing paths yield NULL like
    * Snowflake's NULL-on-missing semantics. */
  private val jsonFuncs = Q(
    "q_json_funcs",
    (s, dir) => ViewingData.table(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k_num"),
      get_json_object(col("props"), "$.missing").as("missing_path"),
      element_at(json_object_keys(col("props")), 1).as("first_key")),
    Some("""SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       json_extract_string(props, '$.missing') AS missing_path,
       json_keys(props)[1] AS first_key
FROM events"""))

  /** LISTAGG(DISTINCT x) WITHIN GROUP (ORDER BY x): collect_set +
    * array_sort + concat_ws — one shuffle, map-side partial set. */
  private val listagg = Q(
    "q_listagg",
    (s, dir) => ViewingData.table(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("c_mktsegment")))).as("segments"),
        count(lit(1)).as("n_customers")),
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer
GROUP BY 1"""))

  /** GROUPING SETS with grouping() markers — the explicit form between
    * ROLLUP (C5) and CUBE (C13). */
  private val groupingSets = Q(
    "q_grouping_sets",
    (s, dir) => {
      ViewingData.table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
    },
    Some("""SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"""))

  /** Snowflake QUALIFY — inline window filter. Spark has no QUALIFY
    * clause; the same plan (Window + Filter, one shuffle) comes from
    * filtering the ranked frame. Latest order per customer =
    * the dedup-latest idiom. */
  private val qualify = Q(
    "q_qualify",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      ViewingData.table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("latest_date"))
    },
    Some("""SELECT o_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS latest_date
FROM orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1"""))

  /** LATERAL correlated subquery (top-1-per-outer-row): Spark 4's
    * lateral join. Catalyst rewrites the correlated limit into a
    * window+filter domain join — same single-shuffle plan QUALIFY
    * gets, declared correlation-first. */
  private val lateral = Q(
    "q_lateral",
    (s, dir) => {
      ViewingData.table(s, dir, "customer").createOrReplaceTempView("customer")
      ViewingData.table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c.c_custkey, l.o_orderkey AS best_order,
        CAST(round(l.o_totalprice, 2) AS DOUBLE) AS best_price
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) l""")
    },
    Some("""SELECT c.c_custkey, l.o_orderkey AS best_order,
       round(l.o_totalprice, 2) AS best_price
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) l"""))

  /** RANGE window frame over event-time seconds: a per-user sliding
    * 1-hour sum that — unlike ROWS frames (C9) — is defined by the
    * ORDER BY value, so gaps and duplicate timestamps behave per SQL
    * semantics. One shuffle on user_id. */
  private val windowRange = Q(
    "q_window_range",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(unix_timestamp(col("ts"))).cast("long").as("t"),
          floor(col("value")).cast("long").as("v"))
      val w = Window.partitionBy("user_id").orderBy("t").rangeBetween(-3600L, 0L)
      ev.select(col("event_id"), col("user_id"),
        sum("v").over(w).as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
    },
    Some("""WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(value) AS BIGINT) AS v
  FROM events)
SELECT event_id, user_id,
       CAST(SUM(v) OVER w AS BIGINT) AS hour_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS hour_n
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY t
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"""))

  /** Window navigation surface: first/last/nth value and lead/lag with
    * explicit defaults over each user's event sequence. */
  private val windowNav = Q(
    "q_window_nav",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(unix_timestamp(col("ts"))).cast("long").as("t"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev.select(col("event_id"), col("user_id"),
        first("event_id").over(wAll).as("first_ev"),
        last("event_id").over(wAll).as("last_ev"),
        nth_value(col("event_id"), 2).over(wAll).as("second_ev"),
        lag("event_id", 1, -1L).over(w).as("prev_ev"),
        lead("event_id", 2, -1L).over(w).as("next2_ev"))
    },
    Some("""WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events)
SELECT event_id, user_id,
       FIRST_VALUE(event_id) OVER wa AS first_ev,
       LAST_VALUE(event_id) OVER wa AS last_ev,
       NTH_VALUE(event_id, 2) OVER wa AS second_ev,
       LAG(event_id, 1, -1) OVER w AS prev_ev,
       LEAD(event_id, 2, -1) OVER w AS next2_ev
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id),
       wa AS (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""))

  /** Deterministic stratified sampling: top-N per stratum ordered by a
    * content hash — reproducible across engines and retries (md5 is
    * bit-identical everywhere), the property random() sampling lacks.
    * The training-data use: balanced per-language/source subsets. */
  private val sampleStratified = Q(
    "q_sample_stratified",
    (s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(md5(col("event_id").cast("string").cast("binary")), col("event_id"))
      ViewingData.table(s, dir, "events")
        .select(col("event_id"), col("event_type"))
        .withColumn("draw_rank", row_number().over(w).cast("long"))
        .filter(col("draw_rank") <= 100)
    },
    Some("""SELECT event_id, event_type,
       CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
            AS BIGINT) AS draw_rank
FROM events
QUALIFY draw_rank <= 100"""))

  /** Near-dup canonicalization: exact-Jaccard pairs (D2's semantics)
    * → undirected transitive closure → min-id canonical per cluster.
    * The step every dedup pipeline needs after pair generation; oracle
    * is a DuckDB recursive CTE over the same pairs. */
  private val dedupComponents = Q(
    "dedup_components",
    (s, dir) => {
      // Exactly D2's pairs (shared helper), materialized once — the
      // symmetrize union in Components consumes them twice.
      val pairs = Barrier.materialize(QueriesML.ngramJaccardPairsCached(s, dir))._1
      Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("canonical_id"))
    },
    Some(s"""WITH RECURSIVE ${QueriesML.ngramPairsCte},
edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(s, n) AS (SELECT s, s FROM edges UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.n = e.s)
SELECT s AS doc_id, MIN(n) AS canonical_id FROM reach GROUP BY s"""))

  /** The dedup END RESULT: drop every non-canonical member of a
    * near-dup cluster, keep everything else — D6's components applied
    * back to the corpus with an anti-join. No broadcast hint: at
    * web scale 30–50% of a corpus can be duplicate members, so the
    * dupe list is NOT reliably broadcastable; AQE picks broadcast
    * when it actually fits. */
  private val dedupKeepCanonical = Q(
    "dedup_keep_canonical",
    (s, dir) => {
      val pairs = Barrier.materialize(QueriesML.ngramJaccardPairsCached(s, dir))._1
      val dupes = Components.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      ViewingData.table(s, dir, "documents")
        .join(dupes, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    Some(s"""WITH RECURSIVE ${QueriesML.ngramPairsCte},
edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(s, n) AS (SELECT s, s FROM edges UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.n = e.s),
comp AS (SELECT s AS doc_id, MIN(n) AS canonical_id FROM reach GROUP BY s),
dupes AS (SELECT doc_id FROM comp WHERE doc_id <> canonical_id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d ANTI JOIN dupes USING (doc_id)"""))

  /** Dedup REPORTING: the cluster-size histogram + corpus dup-rate a
    * curation team reads after a dedup pass (how much mass sits in
    * how-big clusters): D6's components folded to per-cluster sizes,
    * sizes folded to a histogram, each size class annotated with its
    * duplicate-member count and corpus share. Everything after the
    * component fold is control-plane-sized (|clusters| ≤ |docs|,
    * |size classes| ≪ that); the corpus total rides a 1-row
    * broadcast frame. */
  private val dedupClusterStats = Q(
    "dedup_cluster_stats",
    (s, dir) => {
      val pairs = Barrier.materialize(QueriesML.ngramJaccardPairsCached(s, dir))._1
      val sizes = Components.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      val total = ViewingData.table(s, dir, "documents")
        .agg(count(lit(1)).as("total_docs"))
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_members", col("cluster_size") * col("n_clusters"))
        .withColumn("n_dupes", (col("cluster_size") - 1) * col("n_clusters"))
        .crossJoin(broadcast(total))
        .withColumn("pct_of_corpus",
          round(col("n_members") * 100.0 / col("total_docs"), 6))
        .drop("total_docs")
    },
    Some(s"""WITH RECURSIVE ${QueriesML.ngramPairsCte},
edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(s, n) AS (SELECT s, s FROM edges UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.n = e.s),
comp AS (SELECT s AS doc_id, MIN(n) AS canonical_id FROM reach GROUP BY s),
sizes AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY 1),
hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sizes GROUP BY 1)
SELECT cluster_size, n_clusters,
       cluster_size * n_clusters AS n_members,
       (cluster_size - 1) * n_clusters AS n_dupes,
       round(cluster_size * n_clusters * 100.0
             / (SELECT count(*) FROM documents), 6) AS pct_of_corpus
FROM hist"""))

  /** SURVIVORSHIP (the MDM "golden record" rules, field-level — D7
    * picks a surviving ROW, this row merges best FIELDS per cluster):
    * per near-dup cluster, text/length from the longest member (tie →
    * lowest doc_id), language by cluster majority vote (tie →
    * lexicographic), membership count. The vote and the longest-pick
    * are per-cluster aggregates on the component table — cluster
    * counts bound every group, no corpus-wide sort. */
  private val dedupSurvivorship = Q(
    "dedup_survivorship",
    (s, dir) => {
      val pairs = Barrier.materialize(QueriesML.ngramJaccardPairsCached(s, dir))._1
      val comp = Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("canonical_id"))
      val members = comp.join(
        ViewingData.table(s, dir, "documents")
          .select("doc_id", "lang", "n_chars"), "doc_id")
      val golden = members.groupBy("canonical_id")
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("n_chars"), -col("doc_id"))).as("golden_doc_id"),
          max("n_chars").as("golden_chars"))
      val langVote = members.groupBy("canonical_id", "lang")
        .agg(count(lit(1)).as("v"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("canonical_id")
            .orderBy(col("v").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("canonical_id"), col("lang").as("lang_majority"))
      golden.join(langVote, "canonical_id")
    },
    Some(s"""WITH RECURSIVE ${QueriesML.ngramPairsCte},
edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(s, n) AS (SELECT s, s FROM edges UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.n = e.s),
comp AS (SELECT s AS doc_id, MIN(n) AS canonical_id FROM reach GROUP BY s),
members AS (
  SELECT c.canonical_id, d.doc_id, d.lang, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)),
golden AS (
  SELECT canonical_id,
         CAST(count(*) AS BIGINT) AS n_members,
         max(n_chars) AS golden_chars
  FROM members GROUP BY 1),
gpick AS (
  SELECT canonical_id, doc_id AS golden_doc_id FROM (
    SELECT canonical_id, doc_id,
           row_number() OVER (PARTITION BY canonical_id
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM members) WHERE rk = 1),
vote AS (
  SELECT canonical_id, lang AS lang_majority FROM (
    SELECT canonical_id, lang,
           row_number() OVER (PARTITION BY canonical_id
                              ORDER BY count(*) DESC, lang) AS rk
    FROM members GROUP BY canonical_id, lang) WHERE rk = 1)
SELECT g.canonical_id, g.n_members, p.golden_doc_id, g.golden_chars,
       v.lang_majority
FROM golden g JOIN gpick p USING (canonical_id)
              JOIN vote v USING (canonical_id)"""))

  /** Approximate aggregates (Snowflake HLL / APPROX_PERCENTILE):
    * mergeable sketches, constant memory per group — the 100 TB path
    * where exact distinct would shuffle every key. Sketch estimates
    * are engine-specific → rows-only check; the error bound vs exact
    * is spec-asserted (ApproxSpec). */
  private val approxAggs = Q(
    "q_approx",
    (s, dir) => ViewingData.table(s, dir, "events")
      .groupBy("event_type")
      .agg(
        // rsd pinned to 1% so ApproxSpec's 5% assertion sits at 5σ —
        // the default 5% rsd is one standard deviation and would flap
        // on regenerated data
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_median"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("approx_p95")),
    None)

  /** Snowflake CONNECT BY (hierarchy traversal with
    * SYS_CONNECT_BY_PATH) over a deterministic tree derived from
    * documents (parent = doc_id/7, single root 0, depth ≤ 4):
    * `operators.Hierarchy.connectBy` probes the node count and, since
    * the tree fits its driver route (at most 2^16^ unique bigint ids),
    * walks every parent chain on the driver and returns a local
    * relation: one probe job, no join, no per-level barrier. A larger
    * tree takes the barrier loop, one join round per level. Oracle is
    * the equivalent ANSI recursive CTE. */
  private val connectBy = Q(
    "q_connect_by",
    (s, dir) => {
      val nodes = ViewingData.table(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") === 0, lit(null).cast("long"))
            .otherwise(floor(col("doc_id") / 7).cast("long")).as("parent"))
      operators.Hierarchy.connectBy(nodes, "doc_id", "parent")
    },
    Some("""WITH RECURSIVE nodes AS (
  SELECT doc_id,
         CASE WHEN doc_id = 0 THEN NULL ELSE doc_id // 7 END AS parent
  FROM documents),
h AS (
  SELECT doc_id, doc_id AS root_id, 0 AS depth,
         CAST(doc_id AS VARCHAR) AS path
  FROM nodes WHERE parent IS NULL
  UNION ALL
  SELECT n.doc_id, h.root_id, h.depth + 1,
         h.path || '/' || CAST(n.doc_id AS VARCHAR)
  FROM nodes n JOIN h ON n.parent = h.doc_id)
SELECT doc_id, root_id, depth, path FROM h"""))

  /** Link-graph quality signal (`operators.PageRank`): damped
    * PageRank over a deterministic document graph (tree edges
    * doc_id→doc_id/7 plus pseudo-random cross links) — the
    * web-curation feature that ranks pages by link authority.
    * The DuckDB twin UNROLLS the fixed iteration count as a chained
    * CTE (r1..rN) — DuckDB recursive CTEs cannot aggregate over the
    * recursive table, but fixed-point-free unrolling is plain SQL.
    * Both engines round to 6 dp; PageRankSpec additionally pins
    * hand-computed fixpoints and the rank-sum conservation law. */
  private val PrIterations = 10

  private def pagerankOracle: String = {
    // every CTE is MATERIALIZED: DuckDB inlines CTEs by default, so an
    // unrolled 10-iteration chain would re-expand edges (and the
    // documents scan under it) once per reference and exhaust file
    // handles before it exhausted patience
    val base = """WITH edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, CAST(FLOOR(doc_id / 7) AS BIGINT) AS dst
    FROM documents WHERE doc_id > 0
    UNION ALL
    SELECT doc_id AS src, (doc_id * 31) % 500 AS dst
    FROM documents WHERE doc_id <> (doc_id * 31) % 500)),
nodes AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges)),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
sinks AS MATERIALIZED (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outdeg)),
r0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"""
    // (1.0 - 0.85) mirrors the Spark side's lit(1.0 - damping) so both
    // engines evaluate the identical IEEE expression, not a re-typed
    // decimal literal
    val iters = (1 to PrIterations).map { k =>
      s"""r$k AS MATERIALIZED (
  SELECT n.id,
         (1.0 - 0.85) + 0.85 * (COALESCE(i.inflow, 0) + d.mass / nn.n) AS rank
  FROM nodes n
  CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0) AS mass
              FROM r${k - 1} r JOIN sinks s ON r.id = s.id) d
  LEFT JOIN (SELECT e.dst AS id, SUM(r.rank / o.deg) AS inflow
             FROM edges e
             JOIN outdeg o ON e.src = o.src
             JOIN r${k - 1} r ON r.id = e.src
             GROUP BY e.dst) i ON n.id = i.id)"""
    }
    (base +: iters).mkString(",\n") +
      s"\nSELECT id AS doc_id, ROUND(rank, 6) AS rank FROM r$PrIterations"
  }

  private val pagerank = Q(
    "graph_pagerank",
    (s, dir) => {
      val docs = ViewingData.table(s, dir, "documents").select(col("doc_id"))
      val tree = docs.filter(col("doc_id") > 0)
        .select(col("doc_id").as("src"), floor(col("doc_id") / 7).cast("long").as("dst"))
      val cross = docs
        .select(col("doc_id").as("src"),
          pmod(col("doc_id") * 31, lit(500)).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
      // 10 iterations: the registry demo's graph is depth-4ish, well
      // converged by 10; PageRankSpec drives its own counts
      operators.PageRank.run(tree.unionByName(cross), "src", "dst",
        iterations = PrIterations)
        .select(col("id").as("doc_id"), round(col("rank"), 6).as("rank"))
    },
    Some(pagerankOracle))

  /** Gaps-and-islands: per-user CONSECUTIVE-DAY activity streaks —
    * the workhorse behind Snowflake MATCH_RECOGNIZE's most common
    * pattern (`PATTERN (A+)` over a calendar). The island id is the
    * date minus a per-user dense day index: constant within a
    * consecutive run, strictly increasing across gaps. ONE exchange
    * on user_id serves the distinct, the window, and the two
    * aggregations — the same single-shuffle discipline as
    * q_sessionize, which is this operator at second granularity. */
  private val islands = Q(
    "q_islands",
    (s, dir) => {
      // ONE user_id exchange end to end: hashpartitioning(user_id)
      // satisfies the (user_id, day) distinct's clustering AND the
      // window's — without the explicit repartition the planner
      // shuffles twice ((user_id, day) then user_id). PlanAuditSpec
      // pins the single exchange.
      val days = ViewingData.table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .repartition(col("user_id"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val streaks = days
        .withColumn("island", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
      streaks.groupBy("user_id")
        .agg(
          count(lit(1)).as("n_streaks"),
          max("len").as("max_streak_days"),
          sum("len").as("active_days"))
    },
    Some("""WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
streaks AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS island,
         day
  FROM days),
per_island AS (
  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
  FROM streaks GROUP BY user_id, island)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS max_streak_days,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM per_island GROUP BY user_id"""))

  /** Reach counting as SKETCH PARTIAL AGGREGATION — how the
    * reference's v_audience_metrics COUNT(DISTINCT household) actually
    * runs at 100 TB: exact distinct doesn't pre-aggregate (every id
    * must reach its reduce key), but an HLL sketch is a fixed-width
    * mergeable register array, so each day folds into one 2-4 KB
    * sketch and ANY rollup (week, campaign, all-time) is a union of
    * sketches — no second pass over the events. Spark's
    * hll_sketch_agg/hll_union_agg are the Apache DataSketches HLL
    * (deterministic: same input set → same registers), and sketch
    * union is lossless over registers, so merged-daily == direct
    * whole-period BY CONSTRUCTION — SketchSpec pins that identity and
    * the error vs exact distinct. No DuckDB oracle: its
    * approx_count_distinct is a different sketch family (rows-only
    * gate, like q_approx). */
  private val hllReach = Q(
    "q_hll_reach",
    (s, dir) => {
      val daily = ViewingData.table(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
        .groupBy("event_type", "day")
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      daily.groupBy("event_type")
        .agg(
          count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
    },
    None)

  /** HLL SET ALGEBRA: pairwise audience-overlap ESTIMATES from the
    * same persistable sketches q_hll_reach builds — est(A∩B) by
    * inclusion-exclusion (est A + est B − est A∪B, the union being a
    * lossless register merge). This is C47's q_audience_overlap when
    * the id domain outgrows bitmaps: one events scan folds each
    * segment to a 2-4 KB sketch, every pair intersection is then
    * sketch-local arithmetic on a |segments|² broadcast cross of
    * one-row frames — the fact table is never re-touched. The trade
    * (why C47 stays the exact path while bitmaps fit): differencing
    * estimates compounds error, so small intersections of large sets
    * drown in noise — SketchSpec pins the error against exact on the
    * heavily-overlapping segments here and documents the bound's
    * |A∩B|-relative blowup. Sketches aren't cross-engine → rows+spec. */
  private val hllOverlap = Q(
    "q_hll_overlap",
    (s, dir) => {
      val sk = ViewingData.table(s, dir, "events")
        .groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val a = sk.select(col("event_type").as("seg_a"), col("sk").as("sk_a"))
      val b = sk.select(col("event_type").as("seg_b"), col("sk").as("sk_b"))
      a.crossJoin(broadcast(b)).filter(col("seg_a") < col("seg_b"))
        .select(col("seg_a"), col("seg_b"),
          round(hll_sketch_estimate(col("sk_a"))).cast("long").as("est_a"),
          round(hll_sketch_estimate(col("sk_b"))).cast("long").as("est_b"),
          round(hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
            .cast("long").as("est_union"))
        .withColumn("est_intersect",
          // sketch error can push inclusion-exclusion below zero on
          // near-disjoint segments — clamp: cardinalities aren't negative
          greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
    },
    None)

  /** q_hll_reach's EXACT sibling: distinct counting as a custom
    * bitmap TypedImperativeAggregate (plans.BitmapDistinct). Same
    * partial-aggregate property — each map partition folds ids into a
    * bitset, the exchange carries one buffer per (partition, group),
    * OR-merge is lossless — but the answer is exact, so unlike any
    * sketch it oracle-checks against DuckDB's COUNT(DISTINCT). The
    * trade: buffer size is domain/8 bytes (dense surrogate ids), vs
    * the sketch's fixed 2-4 KB at ~1% error. */
  private val bitmapReach = Q(
    "q_bitmap_reach",
    (s, dir) => {
      ViewingData.table(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("bitmap_distinct(user_id)").as("n_users"))
    },
    Some("""SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type"""))

  /** Snowflake APPROX_PERCENTILE_ACCUMULATE/COMBINE/ESTIMATE as a
    * registry row: daily GK digests per event_type, combined, then
    * p50/p95 read off the merged sketch — the persist-once/
    * answer-later percentile workflow (store per-day sketches, answer
    * any later range's percentile without rescanning). Rows-only:
    * digest estimates are approximate (SketchSpec pins the GK rank
    * bound for direct AND merged paths). */
  private val quantileSketch = Q(
    "q_quantile_sketch",
    (s, dir) => {
      ViewingData.table(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("value").cast("double").as("v"))
        .groupBy("event_type", "day")
        .agg(expr("qsketch_agg(v)").as("sk"))
        .groupBy("event_type")
        .agg(expr("qsketch_combine(sk)").as("sk"))
        .select(col("event_type"),
          expr("qsketch_estimate(sk, 0.5D)").as("p50"),
          expr("qsketch_estimate(sk, 0.95D)").as("p95"))
    },
    None)

  /** The bitmap-algebra payoff: EXACT pairwise audience overlap
    * between event types, computed from 5 materialized bitmaps — ONE
    * scan of events builds the per-segment bitmaps, then every
    * intersection is a popcount-AND over two buffers
    * (`bitmap_and_count`) in a 5×5 crossJoin of one-row-per-segment
    * frames. The oracle has to self-join the per-user activity table
    * (|users × types|² work); the bitmap form never touches events
    * again — the 100-TB overlap-matrix shape (ad-reach overlap,
    * channel cannibalization). */
  private val audienceOverlap = Q(
    "q_audience_overlap",
    (s, dir) => {
      // materialized: both crossJoin sides read the SAME 5-row
      // bitmap table — without it each side re-scans events (Prof
      // census catches the double read)
      val bm = Barrier.materialize(ViewingData.table(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("bitmap_agg(user_id)").as("bm")))._1
      val a = bm.select(col("event_type").as("type_a"), col("bm").as("bm_a"))
      val b = bm.select(col("event_type").as("type_b"), col("bm").as("bm_b"))
      a.crossJoin(broadcast(b))
        .select(col("type_a"), col("type_b"),
          expr("bitmap_and_count(bm_a, bm_b)").as("overlap_users"))
    },
    Some("""WITH peru AS (SELECT DISTINCT event_type, user_id FROM events),
types AS (SELECT DISTINCT event_type FROM events),
ov AS (SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS c
       FROM peru a JOIN peru b ON a.user_id = b.user_id
       GROUP BY 1, 2)
SELECT t1.event_type AS type_a, t2.event_type AS type_b,
       CAST(COALESCE(ov.c, 0) AS BIGINT) AS overlap_users
FROM types t1 CROSS JOIN types t2
LEFT JOIN ov ON ov.ta = t1.event_type AND ov.tb = t2.event_type"""))

  /** Text normalization for training corpora: strip URLs, lowercase,
    * collapse whitespace — all codegen'd regexp_replace. */
  private val textNormalize = Q(
    "text_normalize",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "https?://[^\\s]+", " "),
        "\\s+", " ")).as("norm_text")),
    Some("""SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(lower(text), 'https?://[^\s]+', ' ', 'g'),
         '\s+', ' ', 'g')) AS norm_text
FROM documents"""))

  /** Context-length packing, exact single-sequence form (see
    * [[graft.operators.DocPack]]): ONE global-ordered window — the
    * oracle baseline. The scale path is doc_pack_sharded below. */
  private val docPack = Q(
    "doc_pack",
    (s, dir) => DocPack.pack(
      ViewingData.table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.wsTokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", 2048),
    Some("""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048)
            AS BIGINT) AS pack_id
FROM t"""))

  /** Context-length packing, sharded production form: the same
    * sequential fill PARTITIONed BY a shard key (here doc_id mod 8 —
    * any stable hash works), so each shard fills independently with
    * no global sort in the plan. (shard, pack_id) is the global pack
    * key. This is the 100-TB shape of doc_pack. */
  private val docPackSharded = Q(
    "doc_pack_sharded",
    (s, dir) => DocPack.packSharded(
      ViewingData.table(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).as("shard"),
          TextFunctions.wsTokenCount(col("text")).as("n_tokens")),
      "shard", "doc_id", "n_tokens", 2048),
    Some("""WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, shard, n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048)
            AS BIGINT) AS pack_id
FROM t"""))

  /** Deterministic train/validation split: assignment is a pure
    * function of the doc id (md5 — bit-identical in every engine), so
    * the split is reproducible across engines, retries, and reshards,
    * which `rand()` splits are not. ~1/16 of docs go to validation
    * (first hex nibble 'f'). */
  private val trainSplit = Q(
    "doc_train_split",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) === "f",
        lit("validation")).otherwise(lit("train")).as("split")),
    Some("""SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
            THEN 'validation' ELSE 'train' END AS split
FROM documents"""))

  /** Spark's NATIVE session_window aggregation — the built-in
    * counterpart of operators.Sessionize (which reproduces the
    * reference's LAG-of-end gap rule). session_window gaps from the
    * last event TIMESTAMP (+gap), merges in one hash aggregate with
    * session merging — no window-function sort pass — and is the same
    * operator Structured Streaming uses for streaming sessions.
    * Micros-precision epoch outputs keep the oracle comparison
    * timestamp-format-free. */
  private val sessionWindow = Q(
    "q_session_window",
    (s, dir) => ViewingData.table(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "300 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value")).cast("long")).as("value_sum"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("value_sum")),
    Some("""WITH o AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(floor(value) AS BIGINT) AS v,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 300000000
              OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sid AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o)
SELECT user_id,
       CAST(MIN(us) AS BIGINT) AS session_start_us,
       CAST(MAX(us) + 300000000 AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(v) AS BIGINT) AS value_sum
FROM sid
GROUP BY user_id, session_id"""))

  /** Real PIVOT operator (not the CASE-expression form of C8): Spark's
    * RelationalGroupedDataset.pivot with pinned values — pinning keeps
    * the plan static so no extra distinct-values job runs at scale. */
  private val pivotOp = Q(
    "q_pivot",
    (s, dir) => ViewingData.table(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("st_o"),
        coalesce(col("F"), lit(0L)).as("st_f"),
        coalesce(col("P"), lit(0L)).as("st_p")),
    Some("""SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS st_o,
       CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS st_f,
       CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS st_p
FROM orders GROUP BY 1"""))

  /** UNPIVOT / melt — wide-to-long without explode gymnastics. */
  private val unpivotOp = Q(
    "q_unpivot",
    (s, dir) => ViewingData.table(s, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        col("o_custkey").cast("double").as("cust"))
      .unpivot(Array(col("o_orderkey")), Array(col("price"), col("cust")),
        "metric", "val"),
    Some("""SELECT o_orderkey, metric, CAST(val AS DOUBLE) AS val FROM (
  SELECT o_orderkey, round(o_totalprice, 2) AS price,
         CAST(o_custkey AS DOUBLE) AS cust FROM orders)
UNPIVOT (val FOR metric IN (price, cust))"""))

  /** Distribution window functions: ntile / percent_rank / cume_dist. */
  private val ntileDist = Q(
    "q_ntile",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      ViewingData.table(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
    },
    Some("""SELECT event_id, event_type,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       round(PERCENT_RANK() OVER w, 6) AS pr,
       round(CUME_DIST() OVER w, 6) AS cd
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)"""))

  /** Multiset set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    * counts (min / difference of multiplicities), unlike C16's
    * distinct forms. */
  private val setOpsAll = Q(
    "q_set_ops_all",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select((col("user_id") % 10).as("x"))
      val clicks = ev.filter(col("event_type") === "click")
        .select((col("user_id") % 10).as("x"))
      views.intersectAll(clicks).withColumn("op", lit("ia"))
        .unionByName(views.exceptAll(clicks).withColumn("op", lit("ea")))
    },
    Some("""SELECT x, 'ia' AS op FROM (
  SELECT user_id % 10 AS x FROM events WHERE event_type = 'view'
  INTERSECT ALL
  SELECT user_id % 10 AS x FROM events WHERE event_type = 'click')
UNION ALL
SELECT x, 'ea' AS op FROM (
  SELECT user_id % 10 AS x FROM events WHERE event_type = 'view'
  EXCEPT ALL
  SELECT user_id % 10 AS x FROM events WHERE event_type = 'click')"""))

  /** Regex surface: extract-all counting and group extraction. */
  private val regexFuncs = Q(
    "q_regex_funcs",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
        .cast("long").as("vowel_runs"),
      regexp_extract(col("text"), "([A-Za-z]+)", 1).as("first_word")),
    Some("""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS vowel_runs,
       regexp_extract(text, '([A-Za-z]+)', 1) AS first_word
FROM documents"""))

  /** Array-function surface over tokenized text: membership, 1-based
    * indexing, distinct-sorted cardinality. */
  private val arrayFuncs = Q(
    "q_array_funcs",
    (s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      ViewingData.table(s, dir, "documents").select(
        col("doc_id"),
        array_contains(toks, "the").as("has_the"),
        element_at(toks, 2).as("second_tok"),
        size(array_sort(array_distinct(toks))).cast("long").as("n_uniq"))
    },
    Some("""SELECT doc_id,
       list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'the') AS has_the,
       regexp_split_to_array(trim(lower(text)), '\s+')[2] AS second_tok,
       CAST(len(list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))))
            AS BIGINT) AS n_uniq
FROM documents"""))

  /** TRY_-cast error handling (the reference's ingest normalizes with
    * TRY_TO_DATE and NULLIF — NULL-on-malformed rather than job
    * failure, the property that keeps a 100 TB COPY INTO from dying on
    * one bad row). Exercised against genuinely mixed content: the
    * first whitespace token of each document. */
  private val tryCast = Q(
    "q_try_cast",
    (s, dir) => {
      val tok = element_at(split(trim(col("text")), "\\s+"), 1)
      // Date try-cast is gated on full ISO shape: engines disagree on
      // partial dates (Spark accepts '2024'/'2024-07', DuckDB nulls
      // them), and the gate keeps the oracle exact while still
      // exercising NULL-on-invalid (e.g. 2024-13-45 → NULL both ways).
      val isoShaped = tok.rlike("^\\d{4}-\\d{2}-\\d{2}$")
      ViewingData.table(s, dir, "documents").select(
        col("doc_id"),
        tok.as("raw_tok"),
        tok.try_cast("double").as("as_num"),
        when(isoShaped, tok.try_cast("date")).cast("string").as("as_date"),
        nullif(tok, lit("the")).as("nullif_the"))
    },
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+')[1] AS raw_tok
  FROM documents)
SELECT doc_id, raw_tok,
       TRY_CAST(raw_tok AS DOUBLE) AS as_num,
       CASE WHEN regexp_matches(raw_tok, '^\d{4}-\d{2}-\d{2}$')
            THEN CAST(TRY_CAST(raw_tok AS DATE) AS VARCHAR) END AS as_date,
       NULLIF(raw_tok, 'the') AS nullif_the
FROM t"""))

  /** Salted two-phase aggregation under the correctness gate: the
    * skew-mitigation rewrite MUST be result-identical to a plain
    * GROUP BY — the oracle is exactly that plain GROUP BY. Phase 1
    * shuffles (key, salt), splitting a hot key 8 ways; phase 2 merges
    * the tiny partial frame. event_type has only 5 values over 100k+
    * rows at sf0.1 — a genuinely skewed aggregate shape. */
  private val skewAgg = Q(
    "q_skew_agg",
    (s, dir) => graft.operators.Skew.saltedSum(
      ViewingData.table(s, dir, "events")
        .withColumn("v", floor(col("value")).cast("long")),
      keys = Seq("event_type"), uniqueCol = "event_id", buckets = 8,
      aggs = Map("value_sum" -> col("v"), "n" -> lit(1L))),
    Some("""SELECT event_type,
       CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS value_sum,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1"""))

  /** Statistical aggregates (corr / covar / stddev / variance) — all
    * one-pass central-moment sketches: mergeable, constant memory per
    * group, map-side combined. Rounded to 4dp on both sides: the
    * moment accumulation order differs across engines and 6dp sits
    * inside double-summation jitter at this row count. */
  private val statsAgg = Q(
    "q_stats_agg",
    (s, dir) => {
      // Spark yields NaN for single-row / zero-variance groups where
      // DuckDB (SQL standard) yields NULL — normalize to NULL.
      def nanToNull(c: org.apache.spark.sql.Column) =
        when(isnan(c), lit(null)).otherwise(c)
      ViewingData.table(s, dir, "events")
        .groupBy("event_type")
        .agg(
          nanToNull(round(corr(col("value"), col("user_id").cast("double")), 4)).as("c"),
          nanToNull(round(stddev_samp(col("value")), 4)).as("sd"),
          nanToNull(round(var_pop(col("value")), 4)).as("vp"),
          nanToNull(round(covar_samp(col("value"), col("user_id").cast("double")), 4)).as("cv"))
    },
    Some("""SELECT event_type,
       round(corr(value, CAST(user_id AS DOUBLE)), 4) AS c,
       round(stddev_samp(value), 4) AS sd,
       round(var_pop(value), 4) AS vp,
       round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cv
FROM events GROUP BY 1"""))

  /** Salted-replicated dimension join under the correctness gate:
    * like C35, the rewrite must be result-identical to the plain
    * equi-join it replaces (the oracle IS that plain join). The dim
    * is replicated per salt bucket, the fact side salts
    * deterministically from its unique id — one hot part key spreads
    * over 4 reducers. */
  private val skewJoin = Q(
    "q_skew_join",
    (s, dir) => {
      val fact = ViewingData.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey").as("pk"),
          floor(col("l_quantity")).cast("long").as("qty"))
      val dim = ViewingData.table(s, dir, "part")
        .select(col("p_partkey").as("pk"), col("p_brand"))
      graft.operators.Skew.saltedJoin(fact, dim, "pk", "l_orderkey", 4)
        .groupBy("p_brand")
        .agg(sum("qty").as("qty_sum"), count(lit(1)).as("n"))
    },
    Some("""SELECT p_brand,
       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sum,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1"""))

  /** Runtime-filter join (the 100-TB selective-dim shape): a ~1%
    * predicate on the dimension side should prune the FACT SCAN
    * before the join, not after — Snowflake does this with join
    * pruning on clustered tables; Spark's Catalyst does it with
    * `InjectRuntimeFilter`, which plants a bloom filter built from
    * the filtered dim keys (`bloom_filter_agg`) as a
    * `might_contain(...)` predicate on the fact side. The query is
    * written as the PLAIN declarative join — no hints, no manual
    * semi-join — because the injection is the optimizer's job:
    * locally the 10 GB application-side threshold keeps it off (the
    * fact scan IS small), on a cluster-sized scan it fires
    * automatically. RuntimeFilterSpec pins the mechanism with the
    * thresholds lowered: the bloom probe must land INSIDE the fact
    * scan's filters with the rows it passes matching the exact join,
    * so the plan a 100-TB run gets is regression-checked here. */
  private val runtimeFilter = Q(
    "q_runtime_filter",
    (s, dir) => {
      val dim = ViewingData.table(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_brand"), col("p_type"))
      ViewingData.table(s, dir, "lineitem")
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
          count(lit(1)).as("n_items"),
          sum(floor(col("l_quantity")).cast("long")).as("qty_sum"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    },
    Some("""SELECT p_brand, p_type,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sum,
       ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#23' AND p_type = 'PROMO'
GROUP BY 1, 2"""))

  /** Data-quality audit (`operators.Quality`): every rule is a
    * conditional sum in ONE aggregation pass over the frame — rule
    * count never multiplies scans. */
  private val dqAudit = Q(
    "q_dq_audit",
    (s, dir) => graft.operators.Quality.audit(
      ViewingData.table(s, dir, "events"),
      Map(
        "value_nonneg" -> (col("value") >= 0),
        "user_present" -> col("user_id").isNotNull,
        "type_known" -> col("event_type").isin("view", "click", "purchase", "signup", "error"),
        "ts_in_range" -> (year(col("ts")) === 2024))),
    Some("""WITH c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         CAST(SUM(CASE WHEN NOT COALESCE(value >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS value_nonneg,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_present,
         CAST(SUM(CASE WHEN NOT COALESCE(event_type IN ('view','click','purchase','signup','error'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS type_known,
         CAST(SUM(CASE WHEN NOT COALESCE(year(ts) = 2024, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS ts_in_range
  FROM events)
SELECT rule, violations, total FROM (
  SELECT 'value_nonneg' AS rule, value_nonneg AS violations, total FROM c
  UNION ALL SELECT 'user_present', user_present, total FROM c
  UNION ALL SELECT 'type_known', type_known, total FROM c
  UNION ALL SELECT 'ts_in_range', ts_in_range, total FROM c)"""))

  /** Second string surface: edit distance, character translation,
    * repetition, token addressing, end slicing — all codegen'd. */
  private val stringFuncs2 = Q(
    "q_string_funcs2",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      levenshtein(substring(col("text"), 1, 8), lit("spark sql")).cast("long").as("lev"),
      translate(substring(col("text"), 1, 10), "aeiou", "AEIOU").as("tr"),
      repeat(col("lang"), 2).as("rep"),
      split_part(col("text"), lit(" "), lit(2)).as("sp2"),
      call_function("left", col("text"), lit(3)).as("l3"),
      call_function("right", col("text"), lit(3)).as("r3")),
    Some("""SELECT doc_id,
       CAST(levenshtein(substring(text, 1, 8), 'spark sql') AS BIGINT) AS lev,
       translate(substring(text, 1, 10), 'aeiou', 'AEIOU') AS tr,
       repeat(lang, 2) AS rep,
       split_part(text, ' ', 2) AS sp2,
       left(text, 3) AS l3,
       right(text, 3) AS r3
FROM documents"""))

  /** Bitwise aggregates — flag/bitmap rollups. */
  private val bitAggs = Q(
    "q_bit_aggs",
    (s, dir) => ViewingData.table(s, dir, "events")
      .groupBy("event_type")
      .agg(
        bit_or(col("user_id")).as("bo"),
        bit_and(col("user_id") % 16).as("ba"),
        bit_xor(col("user_id")).as("bx")),
    Some("""SELECT event_type,
       CAST(bit_or(user_id) AS BIGINT) AS bo,
       CAST(bit_and(user_id % 16) AS BIGINT) AS ba,
       CAST(bit_xor(user_id) AS BIGINT) AS bx
FROM events GROUP BY 1"""))

  /** Second date surface: month arithmetic, truncation, day naming,
    * ISO weeks. month-delta uses datediff/30 on BOTH sides — Spark's
    * months_between day-fraction convention has no DuckDB twin. */
  private val dateFuncs2 = Q(
    "q_date_funcs2",
    (s, dir) => ViewingData.table(s, dir, "orders").select(
      col("o_orderkey"),
      round(datediff(to_date(col("o_orderdate")), lit("2024-01-01").cast("date"))
        .cast("double") / 30.0, 4).as("md"),
      date_trunc("month", col("o_orderdate")).cast("date").cast("string").as("mtrunc"),
      add_months(to_date(col("o_orderdate")), 3).cast("string").as("plus3m"),
      date_format(col("o_orderdate"), "EEEE").as("dname"),
      weekofyear(col("o_orderdate")).cast("long").as("isoweek")),
    Some("""SELECT o_orderkey,
       round(CAST(datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) / 30.0, 4) AS md,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS mtrunc,
       CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3m,
       dayname(o_orderdate) AS dname,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS isoweek
FROM orders"""))

  /** Funnel / sequential-pattern analysis (the behavioral-OLAP
    * workload a viewing dataset exists for): per user, a `view`
    * converts if the FIRST `click` lands within an hour, and that
    * click converts if the first `purchase` follows within an hour —
    * strictly ordered, earliest-match semantics. Shape: two
    * user-keyed range joins, each followed by a min-aggregate back to
    * one row per funnel step. Both joins shuffle on user_id only (the
    * natural funnel key — co-partitioned after the first exchange);
    * ranges bound the per-user pair loop, never |events|². */
  private val funnel = Q(
    "q_funnel",
    (s, dir) => {
      val ev = ViewingData.table(s, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("t"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t"))
      // uncapped = exact; operators.Funnel.capCandidates is the
      // hot-key bound, spec'd in FunnelSkewSpec
      val withPurchase = operators.Funnel.steps(
        views, clicks, purchases, windowSec = 3600L, capPerWindow = None)
      withPurchase.agg(
        count(lit(1)).as("n_views"),
        count(col("click_t")).as("n_view_click"),
        count(col("purchase_t")).as("n_view_click_purchase"),
        round(count(col("click_t")).cast("double") /
          count(lit(1)).cast("double"), 6).as("click_rate"),
        round(count(col("purchase_t")).cast("double") /
          nullif(count(col("click_t")), lit(0)).cast("double"), 6).as("purchase_rate"))
    },
    Some("""WITH ev AS (
  SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events),
v AS (SELECT user_id, event_id, t FROM ev WHERE event_type = 'view'),
c AS (SELECT user_id AS cu, t AS ct FROM ev WHERE event_type = 'click'),
p AS (SELECT user_id AS pu, t AS pt FROM ev WHERE event_type = 'purchase'),
wc AS (
  SELECT v.user_id, v.event_id, v.t, MIN(c.ct) AS click_t
  FROM v LEFT JOIN c ON v.user_id = c.cu AND c.ct > v.t AND c.ct <= v.t + 3600
  GROUP BY v.user_id, v.event_id, v.t),
wp AS (
  SELECT wc.user_id, wc.event_id, wc.t, wc.click_t, MIN(p.pt) AS purchase_t
  FROM wc LEFT JOIN p ON wc.user_id = p.pu AND p.pt > wc.click_t AND p.pt <= wc.click_t + 3600
  GROUP BY wc.user_id, wc.event_id, wc.t, wc.click_t)
SELECT CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(COUNT(click_t) AS BIGINT) AS n_view_click,
       CAST(COUNT(purchase_t) AS BIGINT) AS n_view_click_purchase,
       round(CAST(COUNT(click_t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS click_rate,
       round(CAST(COUNT(purchase_t) AS DOUBLE) /
             CAST(NULLIF(COUNT(click_t), 0) AS DOUBLE), 6) AS purchase_rate
FROM wp"""))

  /** Cohort retention (the other canonical behavioral-OLAP matrix):
    * users cohorted by FIRST active week, each cell = how many of the
    * cohort were active k weeks later. Three aggregations, each
    * map-side combined: per-user first week (|users| shuffle), distinct
    * (user, week) activity (same key — co-partitioned), cohort×offset
    * counts (|cohorts×offsets| — tiny). The user→cohort join is keyed
    * on user_id like everything before it, so the whole query is ONE
    * logical repartition by user followed by a rollup. */
  private val retention = Q(
    "q_retention",
    (s, dir) => {
      val wk = date_trunc("week", col("ts")).cast("date")
      val activity = ViewingData.table(s, dir, "events")
        .select(col("user_id"), wk.as("week")).distinct()
      val cohorts = activity.groupBy("user_id")
        .agg(min("week").as("cohort_week"))
      activity.join(cohorts, "user_id")
        .select(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("active_users"))
        .select(col("cohort_week").cast("string").as("cohort_week"),
          col("week_offset"), col("active_users"))
    },
    Some("""WITH activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events),
cohorts AS (
  SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY user_id)
SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
       CAST((a.week - c.cohort_week) // 7 AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS active_users
FROM activity a JOIN cohorts c USING (user_id)
GROUP BY c.cohort_week, (a.week - c.cohort_week) // 7"""))

  /** Snowflake's MINHASH / APPROXIMATE_SIMILARITY pair for AUDIENCE
    * sets: per-type 16-slot md5 minhash signatures (the D9 md5-min
    * discipline — lexicographic hex min is the same total order in
    * both engines), pairwise estimate = matching slots / 16, emitted
    * BESIDE the exact Jaccard from the distinct-set counts so the
    * result is its own accuracy readout. Signatures fold the fact to
    * |types| rows in one aggregate (signature state is 16 strings per
    * type no matter the audience size — the mergeable-sketch
    * property); pairing and the exact twin run on folded tables. */
  private val minhashSimilarity = Q(
    "q_minhash_similarity",
    (s, dir) => {
      val users = Barrier.materialize(ViewingData.table(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("string").as("uid"))
        .distinct())._1 // feeds signatures AND the exact twin
      val sigs = users.groupBy("event_type")
        .agg(count(lit(1)).as("nu"),
          (0 until 16).map(i =>
            min(md5(concat(lit(s"$i:"), col("uid")))).as(s"m$i")): _*)
      val a = sigs.columns.foldLeft(sigs)((d, c) => d.withColumnRenamed(c, s"a_$c"))
      val b = sigs.columns.foldLeft(sigs)((d, c) => d.withColumnRenamed(c, s"b_$c"))
      val matches = (0 until 16)
        .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
        .reduce(_ + _)
      val inter = users.select(col("event_type").as("type_a"), col("uid"))
        .join(users.select(col("event_type").as("type_b"), col("uid")), "uid")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("ni"))
      a.crossJoin(b) // |types|² pairs — a dim-sized frame, not data
        .filter(col("a_event_type") < col("b_event_type"))
        .select(col("a_event_type").as("type_a"), col("b_event_type").as("type_b"),
          col("a_nu"), col("b_nu"),
          (matches.cast("double") / 16.0).as("est_jaccard"))
        .join(inter, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          round(col("est_jaccard"), 4).as("est_jaccard"),
          round(col("ni").cast("double") /
            (col("a_nu") + col("b_nu") - col("ni")), 6).as("exact_jaccard"))
    },
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(md5('$i:' || uid)) AS m$i").mkString(",\n         ")
      val eqs = (0 until 16)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH users AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uid FROM events),
sigs AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu,
         $mins
  FROM users GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS ni
  FROM users a JOIN users b ON a.uid = b.uid AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       ROUND(($eqs) / 16.0, 4) AS est_jaccard,
       ROUND(CAST(i.ni AS DOUBLE) / (a.nu + b.nu - i.ni), 6) AS exact_jaccard
FROM sigs a
JOIN sigs b ON a.event_type < b.event_type
JOIN inter i ON i.type_a = a.event_type AND i.type_b = b.event_type"""
    })

  /** SAMPLE SYSTEM (block sampling) vs the row-level BERNOULLI the
    * registry already has (C26/F18): keep or drop whole BLOCKS by a
    * deterministic md5 draw on the block id — at scale the dropped
    * blocks are never read (partition/file pruning; StatsIndex
    * manifests make the same decision at the file level), the I/O
    * economics row sampling can't offer, at the price of clustered
    * sampling error. Blocks here are synthetic (event_id div 1024 —
    * the parquet-row-group analog); keep ≈ 25% by first-nibble < '4'.
    * Fully deterministic → fully oracled. */
  private val sampleBlock = Q(
    "q_sample_block",
    (s, dir) => {
      ViewingData.table(s, dir, "events")
        .withColumn("blk", floor(col("event_id") / 1024).cast("long"))
        .filter(substring(md5(col("blk").cast("string")), 1, 1) < "4")
        .groupBy("event_type")
        .agg(countDistinct(col("blk")).as("n_blocks"),
          count(lit(1)).as("n_rows"),
          round(avg("value"), 6).as("avg_value"))
    },
    Some("""WITH b AS (
  SELECT event_type, value,
         CAST(floor(event_id / 1024) AS BIGINT) AS blk
  FROM events),
kept AS (
  SELECT * FROM b WHERE substr(md5(CAST(blk AS VARCHAR)), 1, 1) < '4')
SELECT event_type,
       CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(AVG(value), 6) AS avg_value
FROM kept GROUP BY 1"""))

  val all: Seq[Q] = Seq(
    minhashSimilarity, sampleBlock,
    jsonFuncs, listagg, groupingSets, qualify, lateral,
    windowRange, windowNav, sampleStratified, dedupComponents,
    dedupClusterStats, dedupSurvivorship,
    approxAggs, hllReach, hllOverlap, bitmapReach, audienceOverlap, quantileSketch, connectBy, pagerank, islands, textNormalize, docPack, docPackSharded, trainSplit, sessionWindow,
    pivotOp, unpivotOp, ntileDist, setOpsAll, regexFuncs, arrayFuncs,
    tryCast, skewAgg, statsAgg, skewJoin, runtimeFilter, dqAudit, dedupKeepCanonical,
    stringFuncs2, bitAggs, dateFuncs2, funnel, retention)
}
