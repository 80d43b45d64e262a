package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Geo

/** Spatial radius join by GRID BUCKETING — the geographic sibling of
  * `RangeJoin`'s interval bucketing: the non-equi predicate
  * `haversine(a, b) ≤ R` becomes an equi-join on grid-cell keys with
  * the exact distance as its residual condition, so Catalyst gets a
  * hashable join instead of the nested-loop a raw distance predicate
  * forces.
  *
  * The grid is LATITUDE-BANDED and sized from the radius alone, so it
  * is complete at every latitude, across the ±180 antimeridian and
  * through the polar caps, with nothing for the caller to state:
  * bands are `cellLat`-degree stripes indexed from the south pole,
  * `cellLat` the narrowest divisor of 180 whose latitude step covers
  * the radius ([[pickCellLat]]); each band splits its parallel into a
  * power-of-two count of longitude cells, each at least the widest
  * Δλ a pair within the radius can span there ([[bandCells]]) — wider
  * cells toward the poles, one cap cell where the parallel is too
  * tight for three. Each LEFT point keys once into its own
  * `(band, cell)`; each RIGHT point replicates to bands b−1, b, b+1
  * and, within each target band, to its band-local cell ± 1 (mod the
  * band's count) — at most 9 distinct keys, so a qualifying pair
  * shares exactly one key and there is no post-join dedup.
  *
  * At 100 TB: the replicated side is ×9 rows of the SMALLER relation
  * and the join is a plain equi-join — broadcast when the small side
  * fits (`broadcastRight`), shuffle-on-cell otherwise, with AQE
  * handling hot-cell skew the same way it handles any hot key.
  */
object GeoJoin {

  /** Half the meridian: no two points are farther apart. */
  private val MaxDistKm = math.Pi * Geo.EarthRadiusKm

  /** cellLat values that divide 180, coarsest last. */
  private val LatLadder =
    Seq(0.5, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 9.0, 10.0, 12.0, 15.0, 18.0,
      20.0, 30.0, 36.0, 45.0, 60.0, 90.0, 180.0)

  /** Narrowest ladder band whose latitude step covers radius `r`
    * (radius ≤ cellLat · π·R/180): a pair's points then sit in the
    * same or adjacent bands. Past half the meridian the one 180° band
    * holds the whole globe in one cap cell. */
  private def pickCellLat(r: Double): Double =
    LatLadder.find(d => r <= d * (MaxDistKm / 180.0)).getOrElse(180.0)

  /** Longitude cell count for one latitude band. A pair
    * with its in-band point AT the band's pole-most edge can have its
    * OTHER point up to a full radius further poleward (it lands in
    * the adjacent band but replicates back into this one), and near
    * the poles that poleward push WIDENS the reachable Δλ — so the
    * bound must use the pair-reachable extreme, not the edge alone:
    * sin(Δλ/2) ≤ sin(d/2R)/√(cos φ_edge · cos φ_reach), conservative
    * (grants the whole distance budget to longitude AND the worst
    * denominators). Bands whose parallel is too tight for 3 cells of
    * that span collapse to ONE polar-cap cell — every point there
    * shares it, trivially complete. Any count ≤ the fit keeps one
    * cell ≥ the span (the ±1-in-target-width completeness argument
    * doesn't need nesting), so counts snap down to powers of two
    * only to keep the per-band widths tidy. */
  private def bandCells(band: Int, cellLat: Double, radiusKm: Double): Long = {
    val nBands = (180.0 / cellLat).toInt
    val worstLat =
      if (band >= nBands / 2) -90.0 + (band + 1) * cellLat  // northern: top edge
      else -90.0 + band * cellLat                           // southern: bottom edge
    val R = Geo.EarthRadiusKm
    val edge = math.min(89.9999, math.abs(worstLat))
    val reach = math.min(89.9999, edge + math.toDegrees(radiusKm / R))
    val denom = math.sqrt(
      math.cos(math.toRadians(edge)) * math.cos(math.toRadians(reach)))
    val s = math.sin(radiusKm / (2 * R)) / math.max(denom, 1e-12)
    if (s >= 1.0) 1L // radius reaches around the parallel → one cap cell
    else {
      val maxDlonDeg = math.toDegrees(2.0 * math.asin(s))
      val fit = (360.0 / maxDlonDeg).toLong
      if (fit < 3) 1L
      else Math.min(1L << (63 - java.lang.Long.numberOfLeadingZeros(fit)), 1L << 30)
    }
  }

  /** The one band keying and join: each left row keys once into its
    * own cell `(_b, _c)`, each right row is replicated to the at most
    * 9 cells `(_rb, _rc)` its pairs can fall in, and the exact
    * distance test sits in the join condition, so a `left_outer` join
    * keeps the left rows no right point is within `radiusKm` of. Adds
    * `dist_km` (null on such rows). */
  private[graft] def gridJoin(
      left: DataFrame, latL: String, lonL: String,
      right: DataFrame, latR: String, lonR: String,
      radiusKm: Double, joinType: String, broadcastRight: Boolean): DataFrame = {
    require(latL != latR && lonL != lonR,
      "rename coordinate columns so the two sides don't collide after the join")
    val cellLat = pickCellLat(radiusKm)
    val nBands = (180.0 / cellLat).toInt
    val cellsArr = array((0 until nBands).map(b => lit(bandCells(b, cellLat, radiusKm))): _*)
    def bandOf(lat: String) =
      least(greatest(floor((col(lat) + 90.0) / cellLat).cast("int"), lit(0)),
        lit(nBands - 1))
    def lonCell(lon: String, band: Column) = {
      val n = element_at(cellsArr, band + 1)
      pmod(floor((col(lon) + 180.0) / 360.0 * n).cast("long"), n)
    }
    val l = left
      .withColumn("_b", bandOf(latL))
      .withColumn("_c", lonCell(lonL, col("_b")))
    // within the TARGET band's width: own cell ± 1 (distinct — a
    // 1-cell cap band collapses the three keys to one)
    val r9 = right
      .withColumn("_rb", explode(array((-1 to 1).map(d => bandOf(latR) + d): _*)))
      .filter(col("_rb") >= 0 && col("_rb") < nBands)
      .withColumn("_c0", lonCell(lonR, col("_rb")))
      .withColumn("_n", element_at(cellsArr, col("_rb") + 1))
      .withColumn("_rc",
        explode(array_distinct(array(
          pmod(col("_c0") - 1, col("_n")),
          col("_c0"),
          pmod(col("_c0") + 1, col("_n"))))))
      .drop("_c0", "_n")
    val rSide = if (broadcastRight) broadcast(r9) else r9
    val dist = expr(Geo.haversineSql(latL, lonL, latR, lonR))
    l.join(rSide,
        col("_b") === col("_rb") && col("_c") === col("_rc") && dist <= radiusKm,
        joinType)
      .withColumn("dist_km", dist)
      .drop("_b", "_c", "_rb", "_rc")
  }

  /** Every (left, right) pair within `radiusKm`, with its `dist_km`.
    * @param right          the (usually smaller) side that gets replicated
    * @param broadcastRight hint the replicated side as the build side */
  def radiusJoin(
      left: DataFrame,
      latL: String, lonL: String,
      right: DataFrame,
      latR: String, lonR: String,
      radiusKm: Double,
      broadcastRight: Boolean = true): DataFrame =
    gridJoin(left, latL, lonL, right, latR, lonR, radiusKm, "inner", broadcastRight)

  /** UNBOUNDED k-nearest-neighbors by EXPANDING-RING search — the
    * form a single grid pass can't answer (C101 documents the trade):
    * probe at radius r with `radiusJoin`; left rows with ≥ k
    * matches take their top-k (if the k-th is within r it IS the true
    * top-k — the ring is complete, so nothing closer was missed);
    * unresolved rows retry at 2r on a grid re-sized from the new
    * radius, until the ring covers the globe. Rings decade out:
    * log2(20000/r0) ≈ 9 rounds worst case, and each round joins ONLY
    * the still-unresolved rows (frontier economics, like graph_bfs).
    * Ordering (rounded dist, right id) — the C101 tie
    * discipline. `rightId` names the column carried into the result;
    * right coordinates stay too. */
  def knn(
      left: DataFrame,
      latL: String, lonL: String,
      right: DataFrame,
      latR: String, lonR: String,
      rightId: String,
      k: Int = 1,
      r0: Double = 50.0,
      broadcastRight: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    require(r0 > 0, s"r0=$r0 must be positive — a non-positive seed radius never grows")
    // a synthetic per-row key: duplicate left rows must NOT pool their
    // matches (pooling inflates the match count past k and duplicates
    // neighbors in the ranked output)
    val l0 = left.withColumn("_lrow", monotonically_increasing_id())
    // each ring's unresolved frame counts its rows on its own barrier
    // job, so the loop test costs no extra job
    var (unresolved, pending) = Barrier.materialize(l0, count(lit(1)))
    var acc: DataFrame = null
    var r = r0
    while (pending.getLong(0) > 0) {
      val globalRing = r >= MaxDistKm
      val matches = radiusJoin(unresolved, latL, lonL, right, latR, lonR,
          radiusKm = math.min(r, MaxDistKm), broadcastRight = broadcastRight)
        .withColumn("dist_km", round(col("dist_km"), 4))
      val w = Window.partitionBy("_lrow")
        .orderBy(col("dist_km").asc, col(rightId).asc)
      val perRow = Window.partitionBy("_lrow")
      val ranked = matches
        .withColumn("rank", row_number().over(w))
        .withColumn("_nm", count(lit(1)).over(perRow))
        .withColumn("_kd", max(when(col("rank") <= k, col("dist_km"))).over(perRow))
      // resolved = k matches whose k-th ROUNDED distance sits strictly
      // inside the ring with slack for the rounding itself (0.1 m ≫
      // the 4-dp granularity): a just-outside-ring candidate can round
      // to the same 4-dp value as an in-ring one and then outrank it
      // by id in the (rounded, id) order the oracle uses — such
      // boundary rows simply resolve one doubling later, when both
      // candidates are in-ring. The global ring resolves everything.
      val done = Barrier.materialize(ranked
        .filter(lit(globalRing) ||
          (col("_nm") >= k && col("_kd") < lit(r - 1e-4)))
        .filter(col("rank") <= k)
        .drop("_nm", "_kd"))._1
      acc = if (acc == null) done else acc.unionByName(done)
      val (next, nextPending) = Barrier.materialize(unresolved
        .join(done.select("_lrow").distinct(), Seq("_lrow"), "left_anti"), count(lit(1)))
      unresolved = next
      pending = nextPending
      if (globalRing && pending.getLong(0) > 0) {
        // right side empty (or smaller than k): emit what exists —
        // rows with no match at the full ring simply have none
        return acc.drop("_lrow")
      }
      r = r * 2
    }
    if (acc == null) // empty left: an empty frame with the result schema
      radiusJoin(left, latL, lonL, right.limit(0), latR, lonR, radiusKm = r0)
        .withColumn("dist_km", round(col("dist_km"), 4))
        .withColumn("rank", lit(1).cast("int"))
    else acc.drop("_lrow")
  }
}
