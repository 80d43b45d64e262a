package graft.functions

/** Geodesic arithmetic shared — as GENERATED SQL text — between the
  * Spark side (`expr(...)`) and the DuckDB oracles: ONE definition of
  * the geometry, so the hash compare proves the formulas rather than
  * two hand-kept twins staying lucky. Everything here is plain
  * `floor/%/trig` arithmetic both engines evaluate on IEEE doubles,
  * the same discipline as `md5PairsCte` / the simhash oracle.
  *
  * (Reference capability: the viewing-data model is geographic —
  * DMA/zip on every exposure row, geo-weighted panels
  * (ingest-ddl.sql GEO_WEIGHTS) — a warehouse over it runs distance
  * and cell-binning queries; Snowflake ships this as the ST_* /
  * GEOGRAPHY surface.)
  */
object Geo {

  /** Mean earth radius (IUGG), km — the constant DuckDB's own
    * spatial extension and PostGIS default spheres use. */
  val EarthRadiusKm = 6371.0088

  /** Great-circle distance in km between two (lat, lon) degree pairs:
    * haversine on a sphere, asin argument clamped (antipodal FP can
    * exceed 1 by one ulp). Operands are SQL expressions. */
  def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""(2.0 * $EarthRadiusKm * asin(sqrt(least(1.0,
       pow(sin(radians(($lat2) - ($lat1)) / 2), 2)
       + cos(radians($lat1)) * cos(radians($lat2))
         * pow(sin(radians(($lon2) - ($lon1)) / 2), 2)))))"""
      .replaceAll("\\s+", " ")

  /** Deterministic synthetic coordinates for a key column — spreads
    * entities over lat ∈ [-10, 10), lon ∈ [-20, 20) (a ~2200 ×
    * 4360 km region; |lat| ≤ 10 keeps degree-of-longitude length
    * within 1.5% of the equator's). Multipliers coprime to the
    * moduli so the key space cycles the full grid. Same text runs in
    * both engines: int64 `%` then exact double arithmetic. */
  def synthLatSql(key: String, mult: Int): String =
    s"(CAST((((${key}) * $mult) % 2000) AS DOUBLE) / 100.0 - 10.0)"
  def synthLonSql(key: String, mult: Int): String =
    s"(CAST((((${key}) * $mult) % 4000) AS DOUBLE) / 100.0 - 20.0)"

  /** Quantized lat/lon cell indices for a geohash of `nChars`
    * characters (5 bits each, longitude takes the extra bit on odd
    * totals — the standard geohash bit split). `least` clamps the
    * +90/+180 upper edge into the top cell. */
  def geohashQuantizeSql(lat: String, lon: String, nChars: Int): (String, String) = {
    val nBits = nChars * 5
    val nLon = (nBits + 1) / 2
    val nLat = nBits / 2
    val latQ =
      s"least(CAST(floor((($lat) + 90.0) / 180.0 * ${1L << nLat}) AS BIGINT), ${(1L << nLat) - 1})"
    val lonQ =
      s"least(CAST(floor((($lon) + 180.0) / 360.0 * ${1L << nLon}) AS BIGINT), ${(1L << nLon) - 1})"
    (latQ, lonQ)
  }

  /** Base-32 geohash string from PRE-QUANTIZED cell indices (project
    * the `geohashQuantizeSql` columns first — keeps the per-bit terms
    * referencing plain columns). Bit interleave MSB-first, longitude
    * on even global positions — the classic geohash layout — written
    * as floor-divide/mod arithmetic (no engine-specific shift
    * operators), then `substr` into the standard alphabet. */
  def geohashFromQuantizedSql(latQ: String, lonQ: String, nChars: Int): String = {
    val nBits = nChars * 5
    val nLon = (nBits + 1) / 2
    val nLat = nBits / 2
    def bit(p: Int): String = {
      // global bit position p (0 = MSB); even → lon, odd → lat
      val (src, width, idx) =
        if (p % 2 == 0) (lonQ, nLon, p / 2) else (latQ, nLat, p / 2)
      val shift = width - 1 - idx
      s"(CAST(floor(($src) / ${1L << shift}.0) AS BIGINT) % 2)"
    }
    val chars = (0 until nChars).map { c =>
      val v = (0 until 5)
        .map(j => s"${bit(c * 5 + j)} * ${1 << (4 - j)}")
        .mkString("(", " + ", ")")
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', 1 + $v, 1)"
    }
    chars.mkString("concat(", ", ", ")")
  }

  /** One-call geohash over raw lat/lon expressions (inlines the
    * quantizers; fine for specs and small expressions — registry
    * queries project the quantized columns instead). */
  def geohashSql(lat: String, lon: String, nChars: Int): String = {
    val (latQ, lonQ) = geohashQuantizeSql(lat, lon, nChars)
    geohashFromQuantizedSql(latQ, lonQ, nChars)
  }
}
