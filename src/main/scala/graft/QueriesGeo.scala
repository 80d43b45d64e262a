package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.operators.{Barrier, Components, GeoJoin}
import graft.sources.ViewingData

/** Geospatial analytics (reference capability: the viewing-data model
  * is geographic on every row — DMA, zip, geo-weighted panels
  * (ingest-ddl.sql GEO_WEIGHTS); Snowflake ships the ST_ / GEOGRAPHY
  * surface this family re-expresses Spark-first). Coordinates are
  * derived deterministically from entity keys (`Geo.synth*Sql` — the
  * same generated-SQL-both-engines discipline as the md5 oracle
  * flavors), so every row here is fully hash-checked: the geometry
  * arithmetic itself (haversine, geohash bit interleave) is what the
  * DuckDB compare proves.
  *
  * Scale shapes: distance scoring and geohash encoding are pure
  * scan-speed projections (zero shuffle before the final small agg);
  * the radius join is `GeoJoin.radiusJoin` — an equi-join on a
  * latitude-banded grid sized from the radius, with the dim side
  * replicated to ≤9 cells and broadcast, never a cross join (the
  * RangeJoin argument, in two dimensions).
  */
object QueriesGeo {

  private val custLat = Geo.synthLatSql("c_custkey", 37)
  private val custLon = Geo.synthLonSql("c_custkey", 73)
  private val suppLat = Geo.synthLatSql("s_suppkey", 91)
  private val suppLon = Geo.synthLonSql("s_suppkey", 57)

  /** A table's points at their synthetic coordinates: customers as
    * (c_custkey, clat, clon), suppliers as (s_suppkey, slat, slon). */
  private def points(s: SparkSession, dir: String, table: String): DataFrame = {
    val (key, lat, lon) = table match {
      case "customer" => ("c_custkey", custLat, custLon)
      case "supplier" => ("s_suppkey", suppLat, suppLon)
    }
    val p = key.take(1)
    ViewingData.table(s, dir, table)
      .select(col(key), expr(lat).as(s"${p}lat"), expr(lon).as(s"${p}lon"))
  }

  /** Distance-band report: every customer's great-circle distance to
    * one anchor point, folded into 200 km bands — the "audience
    * within X of the transmitter/store" readout. One scan, one tiny
    * aggregate; the haversine runs inside whole-stage codegen. */
  private val geoDistance = Q(
    "q_geo_distance",
    (s, dir) => {
      val hav = Geo.haversineSql(custLat, custLon, "0.0", "0.0")
      ViewingData.table(s, dir, "customer")
        .withColumn("dist_km", expr(hav))
        .withColumn("band", floor(col("dist_km") / 200.0).cast("long"))
        .groupBy("band")
        .agg(
          count(lit(1)).as("n"),
          round(avg("dist_km"), 3).as("avg_km"),
          round(min("dist_km"), 3).as("min_km"),
          round(max("dist_km"), 3).as("max_km"))
    },
    Some(s"""SELECT CAST(floor(d.dist_km / 200.0) AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(d.dist_km), 3) AS avg_km,
       ROUND(MIN(d.dist_km), 3) AS min_km,
       ROUND(MAX(d.dist_km), 3) AS max_km
FROM (SELECT ${Geo.haversineSql(custLat, custLon, "0.0", "0.0")} AS dist_km
      FROM customer) d
GROUP BY 1"""))

  /** Radius join: (customer, supplier) pairs within 60 km, via
    * `GeoJoin.radiusJoin` (a banded grid sized from the radius alone;
    * at the synthetic domain's |lat| ≤ 10 its cells are 1° × 0.703°).
    * The DuckDB oracle is the BRUTE-FORCE cross join + filter, so the
    * hash match is also the bucketing-completeness proof on this data
    * (GeoSpec proves it adversarially, including antimeridian wrap,
    * high latitudes and the pole cap, at the operator level). */
  private val geoRadiusJoin = Q(
    "q_geo_radius_join",
    (s, dir) => {
      val cust = points(s, dir, "customer")
      val supp = points(s, dir, "supplier")
      GeoJoin.radiusJoin(cust, "clat", "clon", supp, "slat", "slon", radiusKm = 60.0)
        .select(col("c_custkey"), col("s_suppkey"),
          round(col("dist_km"), 4).as("dist_km"))
    },
    Some(s"""WITH c AS (
  SELECT c_custkey, $custLat AS clat, $custLon AS clon FROM customer),
s AS (
  SELECT s_suppkey, $suppLat AS slat, $suppLon AS slon FROM supplier),
p AS (
  SELECT c_custkey, s_suppkey,
         ${Geo.haversineSql("clat", "clon", "slat", "slon")} AS dist_km
  FROM c CROSS JOIN s)
SELECT c_custkey, s_suppkey, ROUND(dist_km, 4) AS dist_km
FROM p WHERE dist_km <= 60.0"""))

  /** Geohash cell aggregation: customers binned into 3-character
    * geohash cells (the standard base-32 bit-interleave, generated as
    * arithmetic both engines run — GeoSpec pins it against an
    * independent bisection implementation), with per-cell count and
    * centroid. The quantized indices are projected ONCE and the six
    * per-char expressions read them — scan-speed encode, one small
    * agg. */
  private val geohashCells = Q(
    "q_geohash_cells",
    (s, dir) => {
      val (latQ, lonQ) = Geo.geohashQuantizeSql("lat", "lon", 3)
      ViewingData.table(s, dir, "customer")
        .select(expr(custLat).as("lat"), expr(custLon).as("lon"))
        .withColumn("latq", expr(latQ))
        .withColumn("lonq", expr(lonQ))
        .withColumn("geohash", expr(Geo.geohashFromQuantizedSql("latq", "lonq", 3)))
        .groupBy("geohash")
        .agg(
          count(lit(1)).as("n"),
          round(avg("lat"), 6).as("centroid_lat"),
          round(avg("lon"), 6).as("centroid_lon"))
    },
    Some {
      val (latQ, lonQ) = Geo.geohashQuantizeSql("lat", "lon", 3)
      s"""WITH pts AS (
  SELECT $custLat AS lat, $custLon AS lon FROM customer),
q AS (
  SELECT lat, lon, $latQ AS latq, $lonQ AS lonq FROM pts)
SELECT ${Geo.geohashFromQuantizedSql("latq", "lonq", 3)} AS geohash,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(lat), 6) AS centroid_lat,
       ROUND(AVG(lon), 6) AS centroid_lon
FROM q
GROUP BY 1"""
    })

  /** Nearest-neighbor-within-radius: each customer's closest supplier
    * among those ≤ 60 km (the store-assignment / nearest-transmitter
    * readout). Radius-bounded nearest is the form grid bucketing
    * answers COMPLETELY (unbounded nearest needs expanding-ring
    * probes); candidates come from the same `GeoJoin.radiusJoin`,
    * then a per-customer top-1 that Catalyst runs as WindowGroupLimit
    * (map-side partial before the exchange). Ordering uses the
    * ROUNDED distance + supplier id so lattice-symmetric exact ties
    * and last-ulp trig differences both break identically in the two
    * engines. */
  private val geoNearest = Q(
    "q_geo_nearest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cust = points(s, dir, "customer")
      val supp = points(s, dir, "supplier")
      val pairs = GeoJoin.radiusJoin(cust, "clat", "clon", supp, "slat", "slon",
          radiusKm = 60.0)
        .withColumn("dist_km", round(col("dist_km"), 4))
      val w = Window.partitionBy("c_custkey")
        .orderBy(col("dist_km").asc, col("s_suppkey").asc)
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("c_custkey"), col("s_suppkey"), col("dist_km"))
    },
    Some(s"""WITH c AS (
  SELECT c_custkey, $custLat AS clat, $custLon AS clon FROM customer),
s AS (
  SELECT s_suppkey, $suppLat AS slat, $suppLon AS slon FROM supplier),
p AS (
  SELECT c_custkey, s_suppkey,
         ${Geo.haversineSql("clat", "clon", "slat", "slon")} AS raw_km
  FROM c CROSS JOIN s),
r AS (
  SELECT c_custkey, s_suppkey, ROUND(raw_km, 4) AS dist_km,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY ROUND(raw_km, 4) ASC, s_suppkey ASC) AS rn
  FROM p WHERE raw_km <= 60.0)
SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rn = 1"""))

  /** Density-based spatial clustering — DBSCAN (Ester 1996) composed
    * ENTIRELY from operators the engine already proves: neighbor
    * pairs from `GeoJoin.radiusJoin` (grid-bucketed, never all-pairs),
    * core points from one count aggregate (≥ minPts neighbors incl.
    * self), clusters from `Components.connectedComponents` over the
    * core-core subgraph (its probe switches to the O(log n)-round
    * alternating star when the graph percolates, where min-propagation's
    * superstep count would be the cluster DIAMETER), border points
    * assigned to their MINIMUM adjacent core
    * cluster (classic DBSCAN takes the first-discovered cluster —
    * order-dependent; the min rule is the deterministic variant a
    * reproducible pipeline needs), everything else noise. eps=60 km /
    * minPts=3 sits below the random-geometric percolation threshold
    * at this density, so the demo yields many small clusters rather
    * than one giant component. The ONE pair materialization
    * (a barrier) feeds counts, core edges, and border
    * assignment. Oracle: brute-force pairs + recursive-CTE reachable
    * -min components (the D6 discipline). */
  private val geoDbscan = Q(
    "q_geo_dbscan",
    (s, dir) => {
      val pts = points(s, dir, "customer").toDF("id", "lat", "lon")
      val a = pts.select(col("id").as("a_id"),
        col("lat").as("alat"), col("lon").as("alon"))
      val b = pts.select(col("id").as("b_id"),
        col("lat").as("blat"), col("lon").as("blon"))
      // self join: BOTH sides are the fact-sized point set — no forced
      // broadcast of the replicated side (AQE still picks one when it fits)
      val pairs = Barrier.materialize(GeoJoin.radiusJoin(a, "alat", "alon", b, "blat", "blon",
          radiusKm = 60.0, broadcastRight = false)
        .filter(col("a_id") =!= col("b_id"))
        .select("a_id", "b_id"))._1
      val core = pairs.groupBy("a_id").agg((count(lit(1)) + 1).as("n"))
        .filter(col("n") >= 3).select(col("a_id").as("id"))
      val coreEdges = pairs
        .join(core.select(col("id").as("a_id")), "a_id")
        .join(core.select(col("id").as("b_id")), "b_id")
      // a density-replicated sweep's giant component has diameter ≈
      // domain/eps: Components' probe sees the percolation and takes
      // the star route (measured 291 s → 45 s at ×10 against
      // min-propagation alone; identical labels, spec'd in
      // ComponentsSpec's route cases)
      val comps = Components.connectedComponents(coreEdges, "a_id", "b_id")
      // isolated cores never reach the edge set — they cluster alone
      // feeds border assignment AND the readout
      val coreClusters = Barrier.materialize(core
        .join(comps.withColumnRenamed("id", "cid"), col("id") === col("cid"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("cluster")))._1
      val border = pairs
        .join(coreClusters.select(col("id").as("b_id"), col("cluster")), "b_id")
        .join(coreClusters.select(col("id").as("a_id")), Seq("a_id"), "left_anti")
        .groupBy("a_id").agg(min("cluster").as("b_cluster"))
      pts.select(col("id").as("c_custkey"))
        .join(coreClusters.withColumnRenamed("id", "c_custkey")
          .withColumnRenamed("cluster", "core_cluster"), Seq("c_custkey"), "left")
        .join(border.withColumnRenamed("a_id", "c_custkey"), Seq("c_custkey"), "left")
        .select(
          col("c_custkey"),
          when(col("core_cluster").isNotNull, lit("core"))
            .when(col("b_cluster").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("core_cluster"), col("b_cluster"), lit(-1L)).as("cluster"))
    },
    Some(s"""WITH RECURSIVE pts AS (
  SELECT c_custkey AS id, $custLat AS lat, $custLon AS lon FROM customer),
pairs AS (
  SELECT p.id AS a, q.id AS b
  FROM pts p JOIN pts q
    ON p.id <> q.id
   AND ${Geo.haversineSql("p.lat", "p.lon", "q.lat", "q.lon")} <= 60.0),
core AS (
  SELECT a AS id FROM pairs GROUP BY a HAVING COUNT(*) + 1 >= 3),
core_edges AS (
  SELECT a, b FROM pairs
  WHERE a IN (SELECT id FROM core) AND b IN (SELECT id FROM core)),
reach(s, n) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.s, e.b FROM reach r JOIN core_edges e ON r.n = e.a),
comp AS (SELECT s AS id, MIN(n) AS cluster FROM reach GROUP BY s),
border AS (
  SELECT p.a AS id, MIN(c.cluster) AS cluster
  FROM pairs p JOIN comp c ON c.id = p.b
  WHERE p.a NOT IN (SELECT id FROM core)
  GROUP BY 1)
SELECT pts.id AS c_custkey,
       CASE WHEN comp.id IS NOT NULL THEN 'core'
            WHEN border.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(comp.cluster, border.cluster, -1) AS cluster
FROM pts
LEFT JOIN comp ON comp.id = pts.id
LEFT JOIN border ON border.id = pts.id"""))

  /** Trip segmentation — the geographic sessionizer: a user's ping
    * sequence splits into trips wherever the step JUMPS (> 500 km
    * haversine from the previous ping) or the clock gaps (> 6 h) —
    * the gaps-and-islands pattern (C45/B5) with a geodesic break
    * predicate. Per-trip readout: ping count and the within-trip
    * distance sum (breaking steps excluded — they're the space
    * BETWEEN trips). Positions derive deterministically from
    * (user_id, event_id) so the whole chain — step distances, break
    * flags, cumulative trip ids, per-trip sums — is hash-checked.
    * ONE per-user exchange carries the LAG, the cumsum, and the trip
    * aggregate (the sessionizer's single-shuffle budget). */
  /** Ping positions derived from (user_id, event_id) — shared by the
    * trip and geofence rows so both walk the same synthetic paths. */
  private val pingLat = Geo.synthLatSql("(user_id * 7 + event_id % 13)", 37)
  private val pingLon = Geo.synthLonSql("(user_id * 7 + event_id % 13)", 73)

  private val tripSegment = Q(
    "q_trip_segment",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      val pings = ViewingData.table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_sec"),
          expr(pingLat).as("lat"), expr(pingLon).as("lon"))
      val stepped = pings
        .withColumn("plat", lag("lat", 1).over(w))
        .withColumn("plon", lag("lon", 1).over(w))
        .withColumn("pts", lag("ts_sec", 1).over(w))
        .withColumn("step_km",
          expr(Geo.haversineSql("plat", "plon", "lat", "lon")))
        .withColumn("brk",
          when(col("pts").isNull || col("step_km") > 500.0 ||
            col("ts_sec") - col("pts") > 21600, 1L).otherwise(0L))
        .withColumn("trip",
          sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      stepped.groupBy("user_id", "trip")
        .agg(
          count(lit(1)).as("n_pings"),
          round(sum(when(col("brk") === 0, col("step_km")).otherwise(0.0)), 3)
            .as("trip_km"),
          min("ts_sec").as("start_sec"),
          max("ts_sec").as("end_sec"))
    },
    Some {
      s"""WITH pings AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         $pingLat AS lat, $pingLon AS lon
  FROM events),
stepped AS (
  SELECT *,
         LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
         LAG(ts_sec) OVER w AS pts
  FROM pings
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
flagged AS (
  SELECT user_id, event_id, ts_sec,
         ${Geo.haversineSql("plat", "plon", "lat", "lon")} AS step_km,
         CASE WHEN pts IS NULL
                OR ${Geo.haversineSql("plat", "plon", "lat", "lon")} > 500.0
                OR ts_sec - pts > 21600
              THEN 1 ELSE 0 END AS brk
  FROM stepped),
tripped AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS trip
  FROM flagged)
SELECT user_id, CAST(trip AS BIGINT) AS trip,
       CAST(COUNT(*) AS BIGINT) AS n_pings,
       ROUND(SUM(CASE WHEN brk = 0 THEN step_km ELSE 0.0 END), 3) AS trip_km,
       MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec
FROM tripped GROUP BY 1, 2"""
    })

  /** Geofence enter/exit events over the stored ping history — the
    * BATCH form of H18's streaming detector, run through the very
    * same `StreamGeofence.fenceEventsBatch` code the streaming spec
    * pins parity against, here under a full DuckDB oracle so the
    * event semantics themselves (per-ping fence sets via the
    * left-outer grid join, LAG set-diff, enter on appearance / exit
    * on disappearance — including the no-fence ping that evidences a
    * total exit) are hash-checked end to end. Fences = suppliers at
    * their synthetic coordinates, pings = the shared trip paths. */
  private val geofenceEvents = Q(
    "q_geofence_events",
    (s, dir) => {
      val pings = ViewingData.table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("tsSec"),
          expr(pingLat).as("lat"), expr(pingLon).as("lon"))
        .withColumnRenamed("user_id", "userId")
        .withColumnRenamed("event_id", "pingId")
      val fences = points(s, dir, "supplier").toDF("fenceId", "flat", "flon")
      graft.streaming.StreamGeofence.fenceEventsBatch(pings, fences, radiusKm = 60.0)
    },
    Some(s"""WITH pings AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         $pingLat AS lat, $pingLon AS lon
  FROM events),
fences AS (
  SELECT s_suppkey AS fence_id, $suppLat AS flat, $suppLon AS flon
  FROM supplier),
matched AS (
  SELECT p.user_id, p.ts_sec, p.event_id, f.fence_id
  FROM pings p LEFT JOIN fences f
    ON ${Geo.haversineSql("p.lat", "p.lon", "flat", "flon")} <= 60.0),
sets AS (
  SELECT user_id, ts_sec, event_id,
         COALESCE(LIST_SORT(LIST(fence_id) FILTER (fence_id IS NOT NULL)),
                  []) AS now
  FROM matched GROUP BY 1, 2, 3),
lagged AS (
  SELECT user_id, ts_sec, now,
         COALESCE(LAG(now) OVER (PARTITION BY user_id
                                 ORDER BY ts_sec, event_id), []) AS prev
  FROM sets),
enters AS (
  SELECT user_id, ts_sec,
         UNNEST(list_filter(now, x -> NOT list_contains(prev, x))) AS fence_id,
         'enter' AS event
  FROM lagged),
exits AS (
  SELECT user_id, ts_sec,
         UNNEST(list_filter(prev, x -> NOT list_contains(now, x))) AS fence_id,
         'exit' AS event
  FROM lagged)
SELECT user_id, ts_sec, CAST(fence_id AS BIGINT) AS fence_id, event FROM enters
UNION ALL
SELECT user_id, ts_sec, CAST(fence_id AS BIGINT) AS fence_id, event FROM exits"""))

  /** UNBOUNDED 2-nearest suppliers per customer — C101's documented
    * trade closed: `GeoJoin.knn`'s expanding-ring search (probe at r,
    * resolve rows whose k-th match is inside the complete ring, retry
    * the rest at 2r on a re-picked band ladder — frontier economics,
    * only unresolved rows rejoin). Here every customer resolves, most
    * in the first ring; the DuckDB brute-force oracle hash-checks the
    * whole (rounded dist, id)-ordered top-2. */
  private val geoKnn = Q(
    "q_geo_knn",
    (s, dir) => {
      val cust = points(s, dir, "customer")
      val supp = points(s, dir, "supplier")
      GeoJoin.knn(cust, "clat", "clon", supp, "slat", "slon",
          rightId = "s_suppkey", k = 2, r0 = 50.0)
        .select(col("c_custkey"), col("s_suppkey"), col("dist_km"), col("rank"))
    },
    Some(s"""WITH c AS (
  SELECT c_custkey, $custLat AS clat, $custLon AS clon FROM customer),
s AS (
  SELECT s_suppkey, $suppLat AS slat, $suppLon AS slon FROM supplier),
p AS (
  SELECT c_custkey, s_suppkey,
         ROUND(${Geo.haversineSql("clat", "clon", "slat", "slon")}, 4) AS dist_km
  FROM c CROSS JOIN s),
r AS (
  SELECT c_custkey, s_suppkey, dist_km,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY dist_km ASC, s_suppkey ASC) AS rn
  FROM p)
SELECT c_custkey, s_suppkey, dist_km, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 2"""))

  /** Point-in-polygon containment (the ST_CONTAINS surface) for
    * CONVEX territories: a point is inside a counter-clockwise convex
    * polygon iff every edge's 2-D cross product with it is ≥ 0 — each
    * (point, edge) test is three multiplies on the planar (lon, lat)
    * chart (the small-region approximation every planar GIS layer
    * uses; geodesic edges would swap in great-circle side tests).
    * Exact lattice coordinates → exact double products → hash-stable
    * without rounding. Polygon edges are a 16-row broadcast VALUES
    * frame in both engines; the test is one fused aggregate
    * (bool_and per (point, polygon)) over the broadcast-expanded
    * candidates — scan-speed, no data-side shuffle beyond the count. */
  private val geoPolygon = Q(
    "q_geo_polygon",
    (s, dir) => {
      import s.implicits._
      // two convex quads + one triangle, CCW, on the synthetic domain
      val polys = Seq(
        (1L, 0, -5.0, -10.0), (1L, 1, -5.0, 0.0), (1L, 2, 5.0, 0.0), (1L, 3, 5.0, -10.0),
        (2L, 0, -2.0, 5.0), (2L, 1, -2.0, 15.0), (2L, 2, 8.0, 15.0), (2L, 3, 8.0, 5.0),
        (3L, 0, -9.0, -19.0), (3L, 1, -6.0, -12.0), (3L, 2, -1.0, -18.0))
        .toDF("polygon_id", "idx", "vy", "vx")
      val nv = polys.groupBy("polygon_id").agg(count(lit(1)).as("nv"))
      val edges = polys.join(nv, "polygon_id")
        .withColumn("nidx", pmod(col("idx") + 1, col("nv")).cast("int"))
      val e2 = polys.select(col("polygon_id"), col("idx").as("nidx"),
        col("vy").as("wy"), col("vx").as("wx"))
      val edgeTable = edges.join(e2, Seq("polygon_id", "nidx"))
        .select(col("polygon_id"), col("vy"), col("vx"), col("wy"), col("wx"))
      val pts = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey"),
          expr(custLat).as("py"), expr(custLon).as("px"))
      val cross = (col("wx") - col("vx")) * (col("py") - col("vy")) -
        (col("wy") - col("vy")) * (col("px") - col("vx"))
      pts.crossJoin(broadcast(edgeTable)) // 16 edge rows — a dim frame
        .groupBy("c_custkey", "polygon_id")
        .agg(min(when(cross >= 0, 1L).otherwise(0L)).as("all_in"))
        .filter(col("all_in") === 1)
        .groupBy("polygon_id")
        .agg(count(lit(1)).as("n_inside"))
    },
    Some(s"""WITH polys(polygon_id, idx, vy, vx) AS (VALUES
  (1, 0, -5.0, -10.0), (1, 1, -5.0, 0.0), (1, 2, 5.0, 0.0), (1, 3, 5.0, -10.0),
  (2, 0, -2.0, 5.0), (2, 1, -2.0, 15.0), (2, 2, 8.0, 15.0), (2, 3, 8.0, 5.0),
  (3, 0, -9.0, -19.0), (3, 1, -6.0, -12.0), (3, 2, -1.0, -18.0)),
nv AS (SELECT polygon_id, COUNT(*) AS nv FROM polys GROUP BY 1),
edges AS (
  SELECT p.polygon_id, p.vy, p.vx, q.vy AS wy, q.vx AS wx
  FROM polys p
  JOIN nv USING (polygon_id)
  JOIN polys q ON q.polygon_id = p.polygon_id
             AND q.idx = (p.idx + 1) % nv.nv),
pts AS (
  SELECT c_custkey, $custLat AS py, $custLon AS px FROM customer),
tests AS (
  SELECT c_custkey, polygon_id,
         MIN(CASE WHEN (wx - vx) * (py - vy) - (wy - vy) * (px - vx) >= 0
                  THEN 1 ELSE 0 END) AS all_in
  FROM pts CROSS JOIN edges
  GROUP BY 1, 2)
SELECT CAST(polygon_id AS BIGINT) AS polygon_id,
       CAST(COUNT(*) AS BIGINT) AS n_inside
FROM tests WHERE all_in = 1 GROUP BY 1"""))

  /** Multi-resolution geohash rollup — the spatial DRILL-DOWN cube
    * (zoom-level tiles: world → region → city), exploiting the
    * geohash PREFIX property (a cell's prefix at k chars IS its
    * containing cell at resolution k): encode ONCE at the finest
    * resolution, then every coarser level is a substring — each point
    * contributes one row per level via a 4-element explode, one
    * aggregate over (level, cell). The hierarchy costs nothing extra
    * at scan time; compare C13's measure cube, here over space. */
  private val geohashRollup = Q(
    "q_geohash_rollup",
    (s, dir) => {
      val (latQ, lonQ) = Geo.geohashQuantizeSql("lat", "lon", 4)
      ViewingData.table(s, dir, "customer")
        .select(expr(custLat).as("lat"), expr(custLon).as("lon"))
        .withColumn("latq", expr(latQ))
        .withColumn("lonq", expr(lonQ))
        .withColumn("gh4", expr(Geo.geohashFromQuantizedSql("latq", "lonq", 4)))
        .select(explode(array((1 to 4).map(i =>
          struct(lit(i).as("level"),
            substring(col("gh4"), 1, i).as("cell"))): _*)).as("lc"))
        .groupBy(col("lc.level").as("level"), col("lc.cell").as("cell"))
        .agg(count(lit(1)).as("n"))
    },
    Some {
      val (latQ, lonQ) = Geo.geohashQuantizeSql("lat", "lon", 4)
      s"""WITH pts AS (
  SELECT $custLat AS lat, $custLon AS lon FROM customer),
q AS (SELECT lat, lon, $latQ AS latq, $lonQ AS lonq FROM pts),
g AS (SELECT ${Geo.geohashFromQuantizedSql("latq", "lonq", 4)} AS gh4 FROM q),
lv AS (
  SELECT UNNEST([1, 2, 3, 4]) AS level, gh4 FROM g)
SELECT CAST(level AS INT) AS level, substr(gh4, 1, level) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lv GROUP BY 1, 2"""
    })

  /** C111's documented trade closed: GEODESIC polygon containment —
    * edges are great circles, not chart lines, so the test is correct
    * at any territory size. Each vertex maps to a unit vector on the
    * sphere; an edge v→w defines the plane through the origin with
    * normal v × w, and a point is inside the CCW polygon iff it lies
    * on the non-negative side of EVERY edge plane:
    * (v × w) · p ≥ 0 — nine multiplies per (point, edge). Vertices
    * sit at x.005 offsets so no lattice point lands near an edge
    * plane (the sign margin dwarfs cross-engine trig ulps — the same
    * argument the haversine rows rest on). Same broadcast-edges +
    * fused bool_and shape as C111. */
  private val geoPolygonGeodesic = Q(
    "q_geo_polygon_geodesic",
    (s, dir) => {
      import s.implicits._
      val polys = Seq(
        (1L, 0, -5.005, -10.005), (1L, 1, -5.005, 0.005),
        (1L, 2, 5.005, 0.005), (1L, 3, 5.005, -10.005),
        (2L, 0, -2.005, 5.005), (2L, 1, -2.005, 15.005),
        (2L, 2, 8.005, 15.005), (2L, 3, 8.005, 5.005),
        (3L, 0, -9.005, -19.005), (3L, 1, -6.005, -12.005), (3L, 2, -1.005, -18.005))
        .toDF("polygon_id", "idx", "vy", "vx")
      val nv = polys.groupBy("polygon_id").agg(count(lit(1)).as("nv"))
      val e2 = polys.select(col("polygon_id"), col("idx").as("nidx"),
        col("vy").as("wy"), col("vx").as("wx"))
      val edgeTable = polys.join(nv, "polygon_id")
        .withColumn("nidx", pmod(col("idx") + 1, col("nv")).cast("int"))
        .join(e2, Seq("polygon_id", "nidx"))
        .select(col("polygon_id"), col("vy"), col("vx"), col("wy"), col("wx"))
      val pts = ViewingData.table(s, dir, "customer")
        .select(col("c_custkey"),
          expr(custLat).as("py"), expr(custLon).as("px"))
      // unit vectors: (cos lat cos lon, cos lat sin lon, sin lat)
      def ux(lat: String, lon: String) =
        expr(s"cos(radians($lat)) * cos(radians($lon))")
      def uy(lat: String, lon: String) =
        expr(s"cos(radians($lat)) * sin(radians($lon))")
      def uz(lat: String) = expr(s"sin(radians($lat))")
      val joined = pts.crossJoin(broadcast(edgeTable))
        .withColumn("vx3", ux("vy", "vx")).withColumn("vy3", uy("vy", "vx"))
        .withColumn("vz3", uz("vy"))
        .withColumn("wx3", ux("wy", "wx")).withColumn("wy3", uy("wy", "wx"))
        .withColumn("wz3", uz("wy"))
        .withColumn("px3", ux("py", "px")).withColumn("py3", uy("py", "px"))
        .withColumn("pz3", uz("py"))
      val side =
        (col("vy3") * col("wz3") - col("vz3") * col("wy3")) * col("px3") +
        (col("vz3") * col("wx3") - col("vx3") * col("wz3")) * col("py3") +
        (col("vx3") * col("wy3") - col("vy3") * col("wx3")) * col("pz3")
      joined
        .groupBy("c_custkey", "polygon_id")
        .agg(min(when(side >= 0, 1L).otherwise(0L)).as("all_in"))
        .filter(col("all_in") === 1)
        .groupBy("polygon_id")
        .agg(count(lit(1)).as("n_inside"))
    },
    Some(s"""WITH polys(polygon_id, idx, vy, vx) AS (VALUES
  (1, 0, -5.005, -10.005), (1, 1, -5.005, 0.005),
  (1, 2, 5.005, 0.005), (1, 3, 5.005, -10.005),
  (2, 0, -2.005, 5.005), (2, 1, -2.005, 15.005),
  (2, 2, 8.005, 15.005), (2, 3, 8.005, 5.005),
  (3, 0, -9.005, -19.005), (3, 1, -6.005, -12.005), (3, 2, -1.005, -18.005)),
nv AS (SELECT polygon_id, COUNT(*) AS nv FROM polys GROUP BY 1),
edges AS (
  SELECT p.polygon_id,
         cos(radians(p.vy)) * cos(radians(p.vx)) AS vx3,
         cos(radians(p.vy)) * sin(radians(p.vx)) AS vy3,
         sin(radians(p.vy)) AS vz3,
         cos(radians(q.vy)) * cos(radians(q.vx)) AS wx3,
         cos(radians(q.vy)) * sin(radians(q.vx)) AS wy3,
         sin(radians(q.vy)) AS wz3
  FROM polys p
  JOIN nv USING (polygon_id)
  JOIN polys q ON q.polygon_id = p.polygon_id
             AND q.idx = (p.idx + 1) % nv.nv),
pts AS (
  SELECT c_custkey, $custLat AS py, $custLon AS px FROM customer),
p3 AS (
  SELECT c_custkey,
         cos(radians(py)) * cos(radians(px)) AS px3,
         cos(radians(py)) * sin(radians(px)) AS py3,
         sin(radians(py)) AS pz3
  FROM pts),
tests AS (
  SELECT c_custkey, polygon_id,
         MIN(CASE WHEN (vy3 * wz3 - vz3 * wy3) * px3
                     + (vz3 * wx3 - vx3 * wz3) * py3
                     + (vx3 * wy3 - vy3 * wx3) * pz3 >= 0
                  THEN 1 ELSE 0 END) AS all_in
  FROM p3 CROSS JOIN edges
  GROUP BY 1, 2)
SELECT CAST(polygon_id AS BIGINT) AS polygon_id,
       CAST(COUNT(*) AS BIGINT) AS n_inside
FROM tests WHERE all_in = 1 GROUP BY 1"""))

  val all: Seq[Q] =
    Seq(geoDistance, geoRadiusJoin, geohashCells, geoNearest, geoDbscan,
      tripSegment, geofenceEvents, geoKnn, geoPolygon, geohashRollup,
      geoPolygonGeodesic)
}
