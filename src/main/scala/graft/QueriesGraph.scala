package graft

import org.apache.spark.sql.functions._

import graft.operators.Barrier
import graft.sources.ViewingData

/** Graph analytics beyond PageRank (F17) — same synthetic doc graph
  * (tree edges doc→doc/7 plus cross edges doc→doc·31 mod 500) so the
  * family composes.
  */
object QueriesGraph {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The densified demo graph as a DISTINCT undirected edge set
    * (u < v) — tree + cross + ring + doubling families over doc ids
    * (ring guarantees min degree 2, so every node has neighbors).
    * Shared by triangles / label propagation / Jaccard so the family
    * composes over one graph. */
  private def undirectedEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = ViewingData.table(s, dir, "documents").select(col("doc_id"))
    val tree = docs.filter(col("doc_id") > 0)
      .select(col("doc_id").as("src"),
        floor(col("doc_id") / 7).cast("long").as("dst"))
    val cross = docs
      .select(col("doc_id").as("src"),
        pmod(col("doc_id") * 31, lit(500)).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val ring = docs.select(col("doc_id").as("src"),
      pmod(col("doc_id") + 1, lit(500)).cast("long").as("dst"))
    val dbl = docs
      .select(col("doc_id").as("src"),
        pmod(col("doc_id") * 2, lit(500)).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    tree.unionByName(cross).unionByName(ring).unionByName(dbl)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
  }

  /** The same edge families as DuckDB CTE text (`d`, `raw`, `und`). */
  private val undSql =
    """d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id AS src, CAST(floor(doc_id / 7) AS BIGINT) AS dst
  FROM d WHERE doc_id > 0
  UNION ALL
  SELECT doc_id AS src, CAST(doc_id * 31 % 500 AS BIGINT) AS dst
  FROM d WHERE doc_id <> doc_id * 31 % 500
  UNION ALL
  SELECT doc_id AS src, CAST((doc_id + 1) % 500 AS BIGINT) AS dst FROM d
  UNION ALL
  SELECT doc_id AS src, CAST(doc_id * 2 % 500 AS BIGINT) AS dst
  FROM d WHERE doc_id <> doc_id * 2 % 500),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst)"""


  /** Both-direction adjacency view of the undirected edge set. */
  private def adjacency(und: DataFrame): DataFrame =
    und.select(col("u").as("a"), col("v").as("b"))
      .unionByName(und.select(col("v").as("a"), col("u").as("b")))

  /** The same adjacency as DuckDB CTE text (follows `undSql`). */
  private val adjSql =
    "adj AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und)"

  /** Triangle counting with DEGREE ORIENTATION (Suri &
    * Vassilvitskii 2011 — "the curse of the last reducer"): orient
    * every undirected edge from its lower-(degree, id) endpoint to
    * the higher one, build wedges only from each vertex's OUT-edges,
    * and close them against the oriented edge set. Orientation bounds
    * out-degree by O(√m) regardless of how skewed the raw degree
    * distribution is — the naive wedge join dies on the highest-degree
    * vertex (d² wedges on one reducer); the oriented one provably
    * cannot. Each triangle is counted exactly once, at its
    * minimum-(degree, id) vertex; per-vertex counts come from
    * exploding the triangle's three corners. Joins are plain
    * equi-joins (AQE handles residual skew); the degree table is a
    * |V|-row aggregate. */
  private val triangles = Q(
    "graph_triangles",
    (s, dir) => {
      // ring + doubling families densify the demo graph into one with
      // real triangle structure (456 triangles at sf0.01 vs 1 from
      // tree+cross alone)
      // one edge materialization feeds degrees AND orientation
      val und = Barrier.materialize(undirectedEdges(s, dir))._1
      val deg = und.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("dg"))
      val fwd = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
      // consumed three times (two wedge sides + close)
      val o = Barrier.materialize(und
        .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        .select(
          when(fwd, col("u")).otherwise(col("v")).as("src"),
          when(fwd, col("v")).otherwise(col("u")).as("dst"),
          when(fwd, col("dv")).otherwise(col("du")).as("ddg")))._1
      val e1 = o.select(col("src").as("a"), col("dst").as("b"), col("ddg").as("db"))
      val e2 = o.select(col("src").as("a"), col("dst").as("c"), col("ddg").as("dc"))
      val close = o.select(col("src").as("b"), col("dst").as("c"))
      val tri = e1.join(e2, Seq("a"))
        .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
        .join(close, Seq("b", "c"))
        .select(col("a"), col("b"), col("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    },
    Some(s"""WITH $undSql,
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS dg
  FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
  GROUP BY 1),
o AS (
  SELECT CASE WHEN (du.dg, u) < (dv.dg, v) THEN u ELSE v END AS src,
         CASE WHEN (du.dg, u) < (dv.dg, v) THEN v ELSE u END AS dst,
         CASE WHEN (du.dg, u) < (dv.dg, v) THEN dv.dg ELSE du.dg END AS ddg
  FROM und
  JOIN deg du ON du.x = und.u
  JOIN deg dv ON dv.x = und.v),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM o e1
  JOIN o e2 ON e1.src = e2.src
           AND (e1.ddg, e1.dst) < (e2.ddg, e2.dst)
  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
SELECT x AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM (SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
      UNION ALL SELECT c AS x FROM tri)
GROUP BY 1"""))

  /** Community detection by SYNCHRONOUS label propagation (Raghavan
    * 2007), made deterministic: every node simultaneously adopts the
    * MODE of its neighbors' labels with ties broken toward the
    * smallest label (row_number over (count DESC, label ASC) — the
    * async/random variants converge faster but aren't reproducible,
    * and a data-pipeline signal must be). Fixed 3 rounds (the demo
    * graph's communities stabilize by then; production iterates to a
    * fixpoint with the same per-round plan). Scale shape = PageRank's:
    * each round is ONE |edges| shuffle (adjacency join) + a
    * map-side-combined (node, label) count + a per-node top-1 that
    * Catalyst runs as WindowGroupLimit; labels go through a Barrier per
    * round so the lineage stays flat. Output: community sizes. */
  private val labelProp = Q(
    "graph_label_prop",
    (s, dir) => {
      import graft.operators.LabelProp
      val (adj, _) = Barrier.materialize(adjacency(undirectedEdges(s, dir)))
      // fixed 3 rounds — the unrolled-CTE oracle's depth; the operator
      // form (LabelProp.propagate) iterates to the fixpoint with
      // 2-cycle detection, spec'd in LabelPropSpec
      var labels = Barrier.materialize(LabelProp.seed(adj))._1
      for (_ <- 1 to 3)
        labels = Barrier.materialize(LabelProp.step(adj, labels))._1
      labels.groupBy("label").agg(count(lit(1)).as("n_members"))
        .withColumnRenamed("label", "community")
    },
    Some(s"""WITH $undSql,
$adjSql,
l0 AS (SELECT DISTINCT a AS node, a AS label FROM adj),
r1 AS (
  SELECT adj.a AS node, l.label, COUNT(*) AS c
  FROM adj JOIN l0 l ON l.node = adj.b GROUP BY 1, 2),
l1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM r1) WHERE rn = 1),
r2 AS (
  SELECT adj.a AS node, l.label, COUNT(*) AS c
  FROM adj JOIN l1 l ON l.node = adj.b GROUP BY 1, 2),
l2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM r2) WHERE rn = 1),
r3 AS (
  SELECT adj.a AS node, l.label, COUNT(*) AS c
  FROM adj JOIN l2 l ON l.node = adj.b GROUP BY 1, 2),
l3 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM r3) WHERE rn = 1)
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l3 GROUP BY 1"""))

  /** Structural node similarity: neighbor-set JACCARD over the wedge
    * join — pairs sharing ≥1 neighbor get |N(x) ∩ N(y)| from one
    * (middle-vertex) equi-join + count, then J = common /
    * (deg_x + deg_y − common); emitted at J ≥ 0.2 (link prediction /
    * near-identical-role detection). Wedge volume is Σ deg(m)² — the
    * triangle row bounds it by orientation, which common-neighbor
    * COUNTING can't use directly; at skewed scale the standard
    * mitigation is a stop-vertex cap on middle degree (the D13
    * stop-gram discipline — drop middles whose degree exceeds the
    * cap, under-counting only pairs whose overlap is hub-mediated).
    * The cap is LIVE here at 64 (the D13 stop-gram value): exact at
    * this graph's natural densities (max degree ≈ 15 at sf0.01), and
    * what turned the ×10 sweep's hub-densified replica from a 28 s
    * quadratic wedge blowup into a bounded run — the sweep surfacing
    * exactly the failure mode the cap exists for. Capped-out middles
    * under-count only hub-MEDIATED overlap; degrees in the
    * denominator stay full, so J is a documented lower bound when
    * the cap bites (never at the oracle-checked density). */
  private val jaccard = Q(
    "graph_jaccard",
    (s, dir) => {
      val und = Barrier.materialize(undirectedEdges(s, dir))._1
      val adj = Barrier.materialize(adjacency(und))._1
      val deg = adj.groupBy(col("a").as("x")).agg(count(lit(1)).as("dg"))
      // |V|-sized keep-list: no broadcast hint — AQE picks when it fits
      val mids = adj.join(
        deg.filter(col("dg") <= 64).select(col("x").as("a")), "a")
      val common = mids.select(col("a").as("m"), col("b").as("x"))
        .join(mids.select(col("a").as("m"), col("b").as("y")), "m")
        .filter(col("x") < col("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("common"))
      common
        .join(deg, "x")
        .join(deg.select(col("x").as("y"), col("dg").as("dgy")), "y")
        .withColumn("jaccard",
          round(col("common").cast("double") /
            (col("dg") + col("dgy") - col("common")), 6))
        .filter(col("jaccard") >= 0.2)
        .select(col("x"), col("y"), col("common"), col("jaccard"))
    },
    Some(s"""WITH $undSql,
$adjSql,
deg AS (SELECT a AS x, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY 1),
mids AS (SELECT adj.a, adj.b FROM adj
         JOIN deg ON deg.x = adj.a AND deg.dg <= 64),
common AS (
  SELECT e1.b AS x, e2.b AS y, CAST(COUNT(*) AS BIGINT) AS common
  FROM mids e1 JOIN mids e2 ON e1.a = e2.a AND e1.b < e2.b
  GROUP BY 1, 2),
j AS (
  SELECT c.x, c.y, c.common,
         ROUND(CAST(c.common AS DOUBLE) / (dx.dg + dy.dg - c.common), 6) AS jaccard
  FROM common c
  JOIN deg dx ON dx.x = c.x
  JOIN deg dy ON dy.x = c.y)
SELECT x, y, common, jaccard FROM j WHERE jaccard >= 0.2"""))

  /** Multi-source BFS hop distances — "how far is every node from
    * the seed set" (influence radius, crawl frontier, blast-radius
    * audits). Seeds = nodes ≡ 0 mod 100. Frontier iteration: each
    * round joins the CURRENT frontier (nodes whose distance was fixed
    * last round — NOT the whole reached set) against the adjacency,
    * anti-joins already-reached nodes, and stops when the frontier
    * empties — so total work is Σ frontier-adjacent edges ≈ O(|E|)
    * across ALL rounds, the textbook distributed BFS bound. Capped at
    * 10 hops (plan depth bound; the demo graph's eccentricity from
    * the seeds is smaller — the cap is spec'd non-binding by the
    * final frontier being empty). Oracle: recursive CTE generating
    * (node, depth) walks bounded at 10, MIN(depth) per node. */
  private val bfs = Q(
    "graph_bfs",
    (s, dir) => {
      val und = Barrier.materialize(undirectedEdges(s, dir))._1
      val adj = Barrier.materialize(adjacency(und))._1
      val nodes = adj.select(col("a").as("node")).distinct()
      // Every round is one Barrier: the checkpoint's own job counts the
      // new frontier, and that count gates the loop — no separate
      // emptiness probe per round.
      def frontierOf(df: DataFrame): (DataFrame, Long) = {
        val (ck, m) = Barrier.materialize(df, count(lit(1)).as("rows"))
        (ck, m.getLong(0))
      }
      var (frontier, size) = frontierOf(
        nodes.filter(col("node") % 100 === 0).select(col("node"), lit(0L).as("dist")))
      // `reached` is the LAZY union of the per-round checkpointed
      // frontiers, never re-checkpointed as a whole (r13, guide §5):
      // each round's `next` is already a materialized LogicalRDD, so
      // re-materializing their cumulative union every round paid one
      // extra job plus a Σ|reached_i| rewrite per round for a plan the
      // union of ≤ 11 checkpointed leaves expresses at constant depth.
      val rounds = scala.collection.mutable.ArrayBuffer(frontier)
      def reached = rounds.reduce(_ unionByName _)
      var depth = 0L
      while (depth < 10 && size > 0) {
        depth += 1
        val (next, nextSize) = frontierOf(frontier
          .join(adj, frontier("node") === adj("a"))
          .select(col("b").as("node"))
          .distinct()
          .join(reached, Seq("node"), "left_anti")
          .select(col("node"), lit(depth).as("dist")))
        rounds += next
        frontier = next
        size = nextSize
      }
      reached
    },
    Some(s"""WITH RECURSIVE $undSql,
$adjSql,
walk(node, d) AS (
  SELECT DISTINCT a, 0 FROM adj WHERE a % 100 = 0
  UNION
  SELECT adj.b, w.d + 1 FROM walk w JOIN adj ON adj.a = w.node WHERE w.d < 10),
best AS (SELECT node, MIN(d) AS dist FROM walk GROUP BY node)
SELECT node, CAST(dist AS BIGINT) AS dist FROM best WHERE dist <= 10"""))

  val all: Seq[Q] = Seq(triangles, labelProp, jaccard, bfs)
}
