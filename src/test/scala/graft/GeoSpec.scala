package graft

import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.operators.GeoJoin

class GeoSpec extends SparkTestBase {
  import spark.implicits._

  val KnnJobBudget = 35

  /** Classic geohash reference: successive interval bisection, the
    * textbook algorithm — independent of Geo's floor/mod arithmetic. */
  private def refGeohash(lat: Double, lon: Double, nChars: Int): String = {
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    var (latLo, latHi, lonLo, lonHi) = (-90.0, 90.0, -180.0, 180.0)
    val sb = new StringBuilder
    var evenBit = true
    var bits = 0
    var ch = 0
    while (sb.length < nChars) {
      if (evenBit) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = ch * 2 + 1; lonLo = mid }
        else { ch = ch * 2; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = ch * 2 + 1; latLo = mid }
        else { ch = ch * 2; latHi = mid }
      }
      evenBit = !evenBit
      bits += 1
      if (bits == 5) { sb.append(alphabet(ch)); bits = 0; ch = 0 }
    }
    sb.toString
  }

  test("geohash arithmetic matches the bisection reference at precisions 1-6") {
    val pts = Seq(
      (57.64911, 10.40744),   // the canonical u4pruydqqvj example point
      (0.0, 0.0), (-89.999, -179.999), (89.999, 179.999),
      (-10.0, -20.0), (9.99, 19.99), (48.8566, 2.3522), (-33.8688, 151.2093))
    val df = pts.toDF("lat", "lon")
    for (n <- 1 to 6) {
      val rows = df.withColumn("gh", expr(Geo.geohashSql("lat", "lon", n)))
        .select("lat", "lon", "gh").collect()
      rows.foreach { r =>
        val (la, lo, gh) = (r.getDouble(0), r.getDouble(1), r.getString(2))
        assert(gh == refGeohash(la, lo, n),
          s"precision $n at ($la, $lo): got $gh, want ${refGeohash(la, lo, n)}")
      }
    }
  }

  test("geohash of the canonical example is the published string") {
    val gh = Seq((57.64911, 10.40744)).toDF("lat", "lon")
      .select(expr(Geo.geohashSql("lat", "lon", 6))).as[String].head()
    assert(gh == "u4pruy") // geohash.org's own documentation example
  }

  test("haversine: known distances within 0.5%") {
    def d(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
      Seq(1).toDF("x")
        .select(expr(Geo.haversineSql(s"$lat1", s"$lon1", s"$lat2", s"$lon2")))
        .as[Double].head()
    assert(math.abs(d(0, 0, 0, 1) - 111.19) < 0.5)        // 1 deg lon at equator
    assert(math.abs(d(0, 0, 1, 0) - 111.19) < 0.5)        // 1 deg lat
    assert(math.abs(d(48.8566, 2.3522, 51.5074, -0.1278) - 343.5) < 2) // Paris-London
    assert(d(12.34, 56.78, 12.34, 56.78) == 0.0)
    assert(math.abs(d(0, -179.99, 0, 179.99) - 2.224) < 0.01) // antimeridian
  }

  test("radiusJoin equals brute force on the synthetic entities") {
    val cust = ViewingDataHelper.table(spark, Sf, "customer")
      .select(col("c_custkey"),
        expr(Geo.synthLatSql("c_custkey", 37)).as("clat"),
        expr(Geo.synthLonSql("c_custkey", 73)).as("clon"))
    val supp = ViewingDataHelper.table(spark, Sf, "supplier")
      .select(col("s_suppkey"),
        expr(Geo.synthLatSql("s_suppkey", 91)).as("slat"),
        expr(Geo.synthLonSql("s_suppkey", 57)).as("slon"))
    val bucketed = GeoJoin.radiusJoin(
        cust, "clat", "clon", supp, "slat", "slon", radiusKm = 120.0)
      .select("c_custkey", "s_suppkey").as[(Long, Long)].collect().toSet
    val brute = cust.crossJoin(supp)
      .withColumn("d", expr(Geo.haversineSql("clat", "clon", "slat", "slon")))
      .filter(col("d") <= 120.0)
      .select("c_custkey", "s_suppkey").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "test radius should produce pairs at sf0.001")
    assert(bucketed == brute)
  }

  test("radiusJoin meets pairs across the antimeridian") {
    val l = Seq((1L, 0.5, 179.995), (2L, 0.0, 10.0)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 0.5, -179.995), (20L, 50.0, 10.0)).toDF("rid", "rlat", "rlon")
    val pairs = GeoJoin.radiusJoin(l, "llat", "llon", r, "rlat", "rlon",
        radiusKm = 50.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L))) // ~1.1 km apart, but 359.99 apart in raw lon
  }

  test("radiusJoin with only a radius equals brute force on global points") {
    // high latitudes on both caps, pairs across the antimeridian, and
    // a pair that meets only through the pole
    val l = Seq(
      (1L, 81.0, 10.0), (2L, -85.0, -120.0), (3L, 89.8, 0.0),
      (4L, 0.2, 179.8), (5L, -83.5, 179.9), (6L, 45.0, 7.0))
      .toDF("lid", "llat", "llon")
    val r = Seq(
      (10L, 81.3, 11.5), (20L, -85.2, -118.0), (30L, 89.8, 180.0),
      (40L, 0.0, -179.9), (50L, -83.4, -179.6), (60L, 45.3, 7.2),
      (70L, 87.0, 90.0), (80L, 60.0, 10.0))
      .toDF("rid", "rlat", "rlon")
    val joined = GeoJoin.radiusJoin(l, "llat", "llon", r, "rlat", "rlon", radiusKm = 60.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = l.crossJoin(r)
      .filter(expr(Geo.haversineSql("llat", "llon", "rlat", "rlon")) <= 60.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(brute.contains((3L, 30L)), "the through-the-pole pair must be in range")
    assert(brute.contains((4L, 40L)) && brute.contains((5L, 50L)))
    assert(joined == brute)
  }

  test("radiusJoin never meets a pair twice (replication is one-cell)") {
    // points in the same cell AND within radius — the both-sides-near
    // case most prone to double counting under naive replication
    val l = Seq((1L, 0.01, 0.01)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 0.02, 0.02)).toDF("rid", "rlat", "rlon")
    val rows = GeoJoin.radiusJoin(l, "llat", "llon", r, "rlat", "rlon",
      radiusKm = 60.0).collect()
    assert(rows.length == 1)
  }

  test("banded radiusJoin equals brute force on GLOBAL points incl. high latitudes") {
    // deterministic points over the whole globe, poles included
    val pts = (0 until 200).map { i =>
      (i.toLong, (i * 37 % 1800) / 10.0 - 90.0, (i * 73 % 3600) / 10.0 - 180.0)
    }
    val l = pts.toDF("lid", "llat", "llon")
    val r = pts.map { case (i, la, lo) => (i + 1000, la, lo) }
      .toDF("rid", "rlat", "rlon")
    val banded = GeoJoin.radiusJoin(l, "llat", "llon", r, "rlat", "rlon",
        radiusKm = 100.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = l.crossJoin(r)
      .withColumn("d", expr(Geo.haversineSql("llat", "llon", "rlat", "rlon")))
      .filter(col("d") <= 100.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(banded == brute)
  }

  test("banded radiusJoin: brute-force equality across radius/cell configs incl. the contract edge") {
    val pts = (0 until 150).map { i =>
      (i.toLong, (i * 53 % 1800) / 10.0 - 90.0, (i * 97 % 3600) / 10.0 - 180.0)
    }
    val l = pts.toDF("lid", "llat", "llon")
    val r = pts.map { case (i, la, lo) => (i + 5000, la, lo) }
      .toDF("rid", "rlat", "rlon")
    // each radius sizes its own band height: 111.1949 km sits a hair
    // under the 1° band's latitude-step bound; 55, 200 and 500 km pick
    // 0.5°, 2° and 5° bands
    Seq(111.1949, 55.0, 200.0, 500.0).foreach { rad =>
      val banded = GeoJoin.radiusJoin(l, "llat", "llon", r, "rlat", "rlon",
          radiusKm = rad)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val brute = l.crossJoin(r)
        .withColumn("d", expr(Geo.haversineSql("llat", "llon", "rlat", "rlon")))
        .filter(col("d") <= rad)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(banded == brute, s"radius $rad km")
    }
  }

  test("banded radiusJoin meets pairs across the pole cap") {
    // both at lat 89.5, opposite longitudes: ~111 km apart THROUGH the
    // pole — lon cells are meaningless there; the cap cell catches it
    val l = Seq((1L, 89.5, 0.0)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 89.5, 180.0), (20L, 89.5, -90.0)).toDF("rid", "rlat", "rlon")
    val pairs = GeoJoin.radiusJoin(l, "llat", "llon", r, "rlat", "rlon",
        radiusKm = 120.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L), (1L, 20L)))
  }

  test("banded radiusJoin never duplicates a pair (9 keys distinct)") {
    val l = Seq((1L, 0.01, 0.01)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 0.02, 0.02)).toDF("rid", "rlat", "rlon")
    val rows = GeoJoin.radiusJoin(l, "llat", "llon", r, "rlat", "rlon",
      radiusKm = 60.0).collect()
    assert(rows.length == 1)
    // and in a polar cap band, where the 3 lon keys collapse to one
    val lp = Seq((2L, 89.1, 10.0)).toDF("lid", "llat", "llon")
    val rp = Seq((30L, 89.15, 11.0)).toDF("rid", "rlat", "rlon")
    val rows2 = GeoJoin.radiusJoin(lp, "llat", "llon", rp, "rlat", "rlon",
      radiusKm = 60.0).collect()
    assert(rows2.length == 1)
  }

  test("expanding-ring knn equals brute-force global KNN (k=1 and k=3)") {
    val pts = (0 until 120).map { i =>
      (i.toLong, (i * 37 % 1800) / 10.0 - 90.0, (i * 73 % 3600) / 10.0 - 180.0)
    }
    val l = pts.take(40).toDF("lid", "llat", "llon")
    val r = pts.drop(40).map { case (i, la, lo) => (i, la, lo) }
      .toDF("rid", "rlat", "rlon")
    def brute(k: Int): Set[(Long, Long, Int)] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lid")
        .orderBy(col("d").asc, col("rid").asc)
      l.crossJoin(r)
        .withColumn("d", round(expr(Geo.haversineSql("llat", "llon", "rlat", "rlon")), 4))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("lid", "rid", "rank").as[(Long, Long, Int)].collect().toSet
    }
    for (k <- Seq(1, 3)) {
      val ringed = GeoJoin.knn(l, "llat", "llon", r, "rlat", "rlon",
          rightId = "rid", k = k, r0 = 50.0)
        .select("lid", "rid", "rank").as[(Long, Long, Int)].collect().toSet
      assert(ringed == brute(k), s"k=$k")
    }
  }

  test("knn rings expand: an isolated point still finds its neighbor") {
    // left near the south pole, the only right point near the north
    // pole — ~9 doublings from r0=50 to the global ring
    val l = Seq((1L, -89.0, 0.0)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 89.0, 0.0)).toDF("rid", "rlat", "rlon")
    val rows = GeoJoin.knn(l, "llat", "llon", r, "rlat", "rlon",
      rightId = "rid", k = 1, r0 = 50.0).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("rid") == 10L)
  }

  test("knn job budget: each ring counts its unresolved rows on its own barrier") {
    // row 2 resolves in the first ring, row 1 after ~8 doublings
    val l = Seq((1L, -89.0, 0.0), (2L, 0.0, 0.0)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 89.0, 0.0), (20L, 0.1, 0.0)).toDF("rid", "rlat", "rlon")
    def run() = GeoJoin.knn(l, "llat", "llon", r, "rlat", "rlon",
      rightId = "rid", k = 1, r0 = 50.0).select("lid", "rid").as[(Long, Long)].collect()
    run()
    var got = Array.empty[(Long, Long)]
    val jobs = jobsOf("geo-knn") { got = run() }
    info(s"$jobs jobs")
    assert(got.toSet == Set((1L, 20L), (2L, 20L)))
    assert(jobs <= KnnJobBudget, s"knn launched $jobs jobs, over its budget of $KnnJobBudget")
  }

  test("knn: duplicate left rows each get their own full top-k (no pooling)") {
    val l = Seq((1L, 0.0, 0.0), (1L, 0.0, 0.0)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 0.1, 0.0), (20L, 0.2, 0.0), (30L, 3.0, 0.0))
      .toDF("rid", "rlat", "rlon")
    val rows = GeoJoin.knn(l, "llat", "llon", r, "rlat", "rlon",
        rightId = "rid", k = 3, r0 = 50.0)
      .select("lid", "rid", "rank").as[(Long, Long, Int)].collect()
    // each duplicate resolves independently: 2 × {10,20,30}
    assert(rows.length == 6)
    assert(rows.count(_._2 == 10L) == 2 && rows.count(_._2 == 30L) == 2)
  }

  test("knn rejects a non-positive seed radius") {
    val df = Seq((1L, 0.0, 0.0)).toDF("lid", "llat", "llon")
    val e = intercept[IllegalArgumentException] {
      GeoJoin.knn(df, "llat", "llon",
        df.toDF("rid", "rlat", "rlon"), "rlat", "rlon",
        rightId = "rid", r0 = 0.0)
    }
    assert(e.getMessage.contains("positive"))
  }

  test("knn with fewer rights than k emits what exists; empty right emits none") {
    val l = Seq((1L, 0.0, 0.0)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 1.0, 1.0)).toDF("rid", "rlat", "rlon")
    val got = GeoJoin.knn(l, "llat", "llon", r, "rlat", "rlon",
      rightId = "rid", k = 3, r0 = 50.0).collect()
    assert(got.length == 1)
    val none = GeoJoin.knn(l, "llat", "llon", r.limit(0), "rlat", "rlon",
      rightId = "rid", k = 1, r0 = 50.0).collect()
    assert(none.isEmpty)
  }

  test("plan: radius join is a broadcast equi-join, not a cross join") {
    val q = Queries.all.find(_.name == "q_geo_radius_join").get
    val plan = q.run(spark, Sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}

/** Tiny alias so specs read the same loader the registry uses. */
private object ViewingDataHelper {
  def table(spark: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    graft.sources.ViewingData.table(spark, dir, name)
}
