package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Geo

/** Spatial radius join by GRID BUCKETING — the geographic sibling of
  * `RangeJoin`'s interval bucketing: the non-equi predicate
  * `haversine(a, b) ≤ R` becomes an equi-join on grid-cell keys plus
  * an exact residual filter, so Catalyst gets a hashable join instead
  * of the nested-loop a raw distance predicate forces.
  *
  * Layout: each LEFT point lands in exactly one `cellDeg`-degree cell
  * `(floor(lat/cell), floor(lon/cell))`; each RIGHT point is
  * replicated to its 3×3 cell NEIGHBORHOOD (longitude cells wrap
  * modulo 360/cell, so pairs straddling the ±180 antimeridian meet).
  * A qualifying pair is then guaranteed to share a key — provided one
  * cell step covers the radius, which is the contract `require`d
  * below: `radiusKm ≤ cellDeg · 110.57` (min km per degree latitude)
  * and `radiusKm ≤ cellDeg · 111.32 · cos(maxAbsLat)` (km per degree
  * longitude at the highest latitude the data reaches — the caller
  * states its domain; fixed-width grids are honest only away from the
  * poles, which is why production systems band cell widths by
  * latitude). Replication meets each pair in AT MOST one cell (the 9
  * neighbor keys are distinct), so no post-join dedup.
  *
  * At 100 TB: the replicated side is ×9 rows of the SMALLER relation
  * and the join is a plain equi-join — broadcast when the small side
  * fits (`broadcastRight`), shuffle-on-cell otherwise, with AQE
  * handling hot-cell skew the same way it handles any hot key.
  */
object GeoJoin {

  /** The completeness contract a fixed-width grid needs: one cell
    * step must cover the radius in both axes at every latitude the
    * data reaches — on the SAME sphere the haversine measures
    * (R = Geo.EarthRadiusKm), with the exact inverse formulas rather
    * than flat-earth approximations. Latitude: a distance d spans at
    * most degrees(d/R) of latitude (meridian arc). Longitude: two
    * points within d can differ by up to
    * Δλ = 2·asin(sin(d/2R)/cos(maxAbsLat)) — both sitting at the
    * band's highest latitude, where the asin curvature makes Δλ
    * STRICTLY larger than d/(111.195·cos φ); a linear bound here
    * silently dropped boundary pairs. Shared by the batch join and
    * the streaming geofence. */
  /** Longitude cell count 360/cellDeg, validated with an FP tolerance
    * (an exact `==` on the quotient mis-judges widths like 0.1 whose
    * quotient is not exactly representable) and ROUNDED — the rounded
    * value is the wrap modulus every cell-key computation must share. */
  def nLonCells(cellDeg: Double): Long = {
    val nLon = 360.0 / cellDeg
    require(math.abs(nLon - math.round(nLon)) < 1e-9,
      s"cellDeg=$cellDeg must divide 360 so longitude cells wrap cleanly")
    math.round(nLon)
  }

  def requireContract(radiusKm: Double, cellDeg: Double, maxAbsLat: Double): Unit = {
    val nLon = nLonCells(cellDeg)
    require(nLon >= 3,
      s"cellDeg=$cellDeg leaves fewer than 3 longitude cells — the 3×3 " +
        "neighbor keys would collide mod 360/cell and double-count pairs")
    val R = graft.functions.Geo.EarthRadiusKm
    val maxDlatDeg = math.toDegrees(radiusKm / R)
    require(maxDlatDeg <= cellDeg,
      s"radiusKm=$radiusKm spans $maxDlatDeg° of latitude — exceeds one " +
        s"$cellDeg° cell step")
    val s = math.sin(radiusKm / (2 * R)) / math.cos(math.toRadians(maxAbsLat))
    require(s < 1.0,
      s"radiusKm=$radiusKm reaches around the |lat|=$maxAbsLat parallel — " +
        "no fixed grid is complete there; band cell widths by latitude")
    val maxDlonDeg = math.toDegrees(2.0 * math.asin(s))
    require(maxDlonDeg <= cellDeg,
      s"radiusKm=$radiusKm spans up to $maxDlonDeg° of longitude at " +
        s"|lat|=$maxAbsLat — exceeds one $cellDeg° cell step; shrink the " +
        "radius, widen the cells, or band by latitude")
  }

  def cellY(lat: String, cellDeg: Double) =
    floor(col(lat) / cellDeg).cast("long")
  def cellX(lon: String, cellDeg: Double) =
    pmod(floor((col(lon) + 180.0) / cellDeg).cast("long"),
      lit(nLonCells(cellDeg)))

  /** Replicates each row to its 3×3 cell neighborhood (longitude
    * wraps mod 360/cell); emits the keys as (cyName, cxName). */
  def replicate9(
      df: DataFrame, lat: String, lon: String, cellDeg: Double,
      cyName: String, cxName: String): DataFrame = {
    val nLon = nLonCells(cellDeg)
    val offsets = for (dy <- -1 to 1; dx <- -1 to 1)
      yield struct(lit(dy).as("dy"), lit(dx).as("dx"))
    df.withColumn("_o", explode(array(offsets: _*)))
      .withColumn(cyName, cellY(lat, cellDeg) + col("_o.dy"))
      .withColumn(cxName, pmod(cellX(lon, cellDeg) + col("_o.dx"), lit(nLon)))
      .drop("_o")
  }

  /** @param right       the (usually smaller) side that gets ×9 replicated
    * @param maxAbsLat   highest |latitude| present in either input, degrees
    * @param broadcastRight hint the replicated side as the build side */
  def radiusJoin(
      left: DataFrame,
      latL: String, lonL: String,
      right: DataFrame,
      latR: String, lonR: String,
      radiusKm: Double,
      cellDeg: Double = 1.0,
      maxAbsLat: Double = 90.0,
      broadcastRight: Boolean = true): DataFrame = {
    requireContract(radiusKm, cellDeg, maxAbsLat)
    require(latL != latR && lonL != lonR,
      "rename coordinate columns so the two sides don't collide after the join")
    val l = left.withColumn("_cy", cellY(latL, cellDeg))
      .withColumn("_cx", cellX(lonL, cellDeg))
    val r9 = replicate9(right, latR, lonR, cellDeg, "_cy", "_cx")
    val rSide = if (broadcastRight) broadcast(r9) else r9
    l.join(rSide, Seq("_cy", "_cx"))
      .withColumn("dist_km", expr(Geo.haversineSql(latL, lonL, latR, lonR)))
      .filter(col("dist_km") <= radiusKm)
      .drop("_cy", "_cx")
  }

  // ------------------------------------------------------------------
  // Latitude-banded grid — the POLES-HONEST radius join. Fixed-width
  // grids fail where meridians converge; the standard fix is wider
  // longitude cells per latitude band.
  // ------------------------------------------------------------------

  /** Longitude cell count for one latitude band (bands are
    * `cellLat`-degree stripes indexed from the south pole). A pair
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
  def bandCells(band: Int, cellLat: Double, radiusKm: Double): Long = {
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

  /** Radius join on a latitude-BANDED grid: works at every latitude,
    * including across the poles' converging meridians, at the price
    * of per-band cell arithmetic. Left points key once into their own
    * band; right points replicate to bands b−1, b, b+1 and, within
    * each target band, to the band-local cell of their longitude ± 1
    * — both sides key in the SAME width there, and one target-band
    * cell is at least the pair-reachable Δλ, so the indices differ by
    * at most 1 mod wrap (polar caps are one cell). Contract:
    * radiusKm ≤ cellLat · (π·R/180) — the
    * latitude step; longitude completeness is per-band by
    * construction. */
  def radiusJoinBanded(
      left: DataFrame,
      latL: String, lonL: String,
      right: DataFrame,
      latR: String, lonR: String,
      radiusKm: Double,
      cellLat: Double = 1.0,
      broadcastRight: Boolean = true): DataFrame = {
    require(180.0 / cellLat == (180.0 / cellLat).toLong,
      s"cellLat=$cellLat must divide 180")
    val R = Geo.EarthRadiusKm
    require(radiusKm <= cellLat * (math.Pi * R / 180.0),
      s"radiusKm=$radiusKm exceeds one $cellLat° latitude step")
    require(latL != latR && lonL != lonR,
      "rename coordinate columns so the two sides don't collide after the join")
    val nBands = (180.0 / cellLat).toInt
    val cells = (0 until nBands).map(b => bandCells(b, cellLat, radiusKm))
    val cellsArr = array(cells.map(lit): _*)

    def bandOf(lat: String) =
      least(greatest(floor((col(lat) + 90.0) / cellLat).cast("int"), lit(0)),
        lit(nBands - 1))
    def lonCell(lon: String, band: org.apache.spark.sql.Column) = {
      val n = element_at(cellsArr, band + 1)
      pmod(floor((col(lon) + 180.0) / 360.0 * n).cast("long"), n)
    }

    val l = left
      .withColumn("_b", bandOf(latL))
      .withColumn("_c", lonCell(lonL, col("_b")))
    val bandOffsets = array(lit(-1), lit(0), lit(1))
    val r3 = right
      .withColumn("_db", explode(bandOffsets))
      .withColumn("_b", bandOf(latR) + col("_db"))
      .filter(col("_b") >= 0 && col("_b") < nBands)
      .drop("_db")
    // within the TARGET band's width: own cell ± 1 (distinct — a
    // 1-cell cap band collapses the three keys to one)
    val r9 = r3
      .withColumn("_c0", lonCell(lonR, col("_b")))
      .withColumn("_n", element_at(cellsArr, col("_b") + 1))
      .withColumn("_c",
        explode(array_distinct(array(
          pmod(col("_c0") - 1, col("_n")),
          col("_c0"),
          pmod(col("_c0") + 1, col("_n"))))))
      .drop("_c0", "_n")
    val rSide = if (broadcastRight) broadcast(r9) else r9
    l.join(rSide, Seq("_b", "_c"))
      .withColumn("dist_km", expr(Geo.haversineSql(latL, lonL, latR, lonR)))
      .filter(col("dist_km") <= radiusKm)
      .drop("_b", "_c")
  }

  /** Half the meridian: no two points are farther apart. */
  private val MaxDistKm = math.Pi * Geo.EarthRadiusKm

  /** cellLat values that divide 180, coarsest last. */
  private val LatLadder =
    Seq(0.5, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 9.0, 10.0, 12.0, 15.0, 18.0,
      20.0, 30.0, 36.0, 45.0, 60.0, 90.0, 180.0)

  /** Narrowest ladder band whose latitude step covers radius `r` —
    * the radiusJoinBanded contract (radius ≤ cellLat · π·R/180). */
  private def pickCellLat(r: Double): Double =
    LatLadder.find(d => r <= d * (MaxDistKm / 180.0)).getOrElse(180.0)

  /** UNBOUNDED k-nearest-neighbors by EXPANDING-RING search — the
    * form a single grid pass can't answer (C101 documents the trade):
    * probe at radius r with the banded join; left rows with ≥ k
    * matches take their top-k (if the k-th is within r it IS the true
    * top-k — the ring is complete, so nothing closer was missed);
    * unresolved rows retry at 2r with a cell width re-picked from the
    * divisors-of-180 ladder, until the ring covers the globe. Rings
    * decade out: log2(20000/r0) ≈ 9 rounds worst case, and each round
    * joins ONLY the still-unresolved rows (frontier economics, like
    * graph_bfs). Ordering (rounded dist, right id) — the C101 tie
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
      val matches = radiusJoinBanded(unresolved, latL, lonL, right, latR, lonR,
          radiusKm = math.min(r, MaxDistKm), cellLat = pickCellLat(r),
          broadcastRight = broadcastRight)
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
      radiusJoinBanded(left, latL, lonL, right.limit(0), latR, lonR,
          radiusKm = r0, cellLat = pickCellLat(r0))
        .withColumn("dist_km", round(col("dist_km"), 4))
        .withColumn("rank", lit(1).cast("int"))
    else acc.drop("_lrow")
  }
}
