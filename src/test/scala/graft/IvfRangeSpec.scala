package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.Ivf
import graft.sources.ViewingData

/** [[Ivf.rangeProbe]] — exact radius search with triangle-bound cell
  * pruning. Two regimes, both pinned:
  *  - UNIFORM corpus (the real embeddings table): every cell's radius
  *    ≈ the unit-sphere diameter, the bound excludes nothing, and the
  *    probe degrades gracefully to a full scan with the EXACT result
  *    (equality with brute force is the contract that cannot bend);
  *  - CLUSTERED corpus (the distribution a trained IVF serves): tight
  *    cells make the bound sharp — most cells are skipped and the
  *    result is still exactly brute force.
  * Plus the boundary pin: a query threshold ABOVE every true cosine
  * returns the empty set, not an error. */
class IvfRangeSpec extends SparkTestBase {
  import spark.implicits._

  private def brute(v: org.apache.spark.sql.DataFrame, minCos: Double) =
    v.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(v.filter(col("vec_id") === 0).select(col("e").as("q"))))
      .withColumn("c", dot(col("e"), col("q")))
      .filter(col("c") >= minCos)
      .select(col("vec_id"), round(col("c"), 6).as("cos_sim"))
      .as[(Long, Double)].collect().toSet

  test("uniform corpus: prunes nothing, result exactly equals brute force") {
    val v = ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val cents = Ivf.centroids(v, "label", "e").localCheckpoint()
    val index = Ivf.assign(v, cents, "vec_id", "e", "label").localCheckpoint()
    val query = v.filter(col("vec_id") === 0).select(col("e").as("q"))
    val got = Ivf.rangeProbe(index.filter(col("vec_id") =!= 0), cents, query,
        "vec_id", "e", "label", minCos = 0.2)
      .as[(Long, Double)].collect().toSet
    val want = brute(v, 0.2)
    assert(got == want, s"range result must equal brute force: " +
      s"missing ${want -- got}, extra ${got -- want}")
    assert(got.nonEmpty, "corpus must yield hits at tau=0.2")
    // threshold above the max cosine: empty, not an error
    assert(Ivf.rangeProbe(index.filter(col("vec_id") =!= 0), cents, query,
      "vec_id", "e", "label", minCos = 0.99).count() == 0)
  }

  test("persisted index: file-pruned range probe is exact; stale stats after append refused") {
    val v = ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val base = v.filter(col("vec_id") % 5 =!= 4)
    val delta = v.filter(col("vec_id") % 5 === 4 && col("vec_id") =!= 0)
    val cents = Ivf.centroids(base, "label", "e").localCheckpoint()
    val index = Ivf.assign(base, cents, "vec_id", "e", "label").localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("ivf-range").toString
    Ivf.writeIndex(index, cents, "label", path)
    Ivf.writeCellStats(spark, path, "e", "label")
    val query = v.filter(col("vec_id") === 0).select(col("e").as("q"))
    val got = Ivf.rangeProbeIndexed(spark, path, query,
        "vec_id", "e", "label", minCos = 0.2)
      .filter(col("vec_id") =!= 0)
      .as[(Long, Double)].collect().toSet
    val want = base.crossJoin(broadcast(query))
      .filter(col("vec_id") =!= 0)
      .withColumn("c", dot(col("e"), col("q")))
      .filter(col("c") >= 0.2)
      .select(col("vec_id"), round(col("c"), 6).as("cos_sim"))
      .as[(Long, Double)].collect().toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    // append invalidates the radii — an un-refreshed probe must
    // REFUSE (silently missing appended rows is the failure mode)
    Ivf.appendToIndex(spark, path, delta, "vec_id", "e", "label", 1L)
    val e = intercept[IllegalStateException] {
      Ivf.rangeProbeIndexed(spark, path, query, "vec_id", "e", "label", 0.2)
    }
    assert(e.getMessage.contains("writeCellStats"))
    // refresh → exact again, appended rows included
    Ivf.writeCellStats(spark, path, "e", "label")
    val got2 = Ivf.rangeProbeIndexed(spark, path, query,
        "vec_id", "e", "label", minCos = 0.2)
      .filter(col("vec_id") =!= 0)
      .as[(Long, Double)].collect().toSet
    val want2 = brute(v, 0.2)
    assert(got2 == want2, s"missing ${want2 -- got2}, extra ${got2 -- want2}")
    assert((want2 -- want).nonEmpty || delta.count() == 0,
      "appended rows must actually extend the result set (corpus shape)")
    // a REBUILD deletes the stats (the batch-count check cannot see a
    // generation change — both generations may have one batch), so an
    // un-refreshed probe against the rebuilt index fails LOUDLY on
    // the missing cellstats instead of pruning with stale radii
    Ivf.writeIndex(index, cents, "label", path)
    intercept[Exception] {
      Ivf.rangeProbeIndexed(spark, path, query, "vec_id", "e", "label", 0.2)
    }
    Ivf.writeCellStats(spark, path, "e", "label")
    assert(Ivf.rangeProbeIndexed(spark, path, query, "vec_id", "e", "label", 0.2)
      .count() > 0, "refresh after rebuild restores the probe")
  }

  test("batch range probe equals per-query single probes (and shares their refusal)") {
    val v = ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e"))
      .localCheckpoint()
    val cents = Ivf.centroids(v, "label", "e").localCheckpoint()
    val index = Ivf.assign(v, cents, "vec_id", "e", "label").localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("ivf-range-b").toString
    Ivf.writeIndex(index, cents, "label", path)
    Ivf.writeCellStats(spark, path, "e", "label")
    val qs = v.filter(col("vec_id").isin(0L, 7L, 42L))
      .select(col("vec_id").as("query_id"), col("e").as("q"))
      .localCheckpoint()
    val got = Ivf.rangeProbeIndexedBatch(spark, path, qs,
        "vec_id", "e", "label", minCos = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val want = qs.as[(Long, Seq[Double])].collect().flatMap { case (qid, q) =>
      val one = Seq(q).toDF("q")
      Ivf.rangeProbeIndexed(spark, path, one, "vec_id", "e", "label", 0.2)
        .as[(Long, Double)].collect().map { case (id, c) => (qid, id, c) }
    }.toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    assert(got.nonEmpty)
    // each query retrieves itself at cosine 1
    assert(Seq(0L, 7L, 42L).forall(q => got.contains((q, q, 1.0))),
      s"self-retrieval at cos=1 expected: $got")
  }

  test("clustered corpus: most cells pruned, result still exactly brute force") {
    val dim = 16
    val rnd = new scala.util.Random(42)
    def unit(raw: Array[Double]): Array[Double] = {
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    // 8 well-separated centers, 40 tight members each (±0.02 noise):
    // the distribution a trained coarse quantizer actually sees
    val centers = Array.fill(8)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows = for {
      c <- centers.indices
      i <- 0 until 40
    } yield {
      val e = unit(centers(c).map(x => x + 0.02 * rnd.nextGaussian()))
      (c.toLong * 100 + i, c, e.toSeq)
    }
    val v = rows.toDF("vec_id", "label", "e").localCheckpoint()
    val cents = Ivf.centroids(v, "label", "e").localCheckpoint()
    val index = Ivf.assign(v, cents, "vec_id", "e", "label").localCheckpoint()
    // query = a member of cluster 0 (vec_id 1), tau high enough that
    // only cluster 0 can qualify
    val query = v.filter(col("vec_id") === 1).select(col("e").as("q"))
    val tau = 0.9
    val got = Ivf.rangeProbe(index.filter(col("vec_id") =!= 1), cents, query,
        "vec_id", "e", "label", minCos = tau)
      .as[(Long, Double)].collect().toSet
    val want = v.filter(col("vec_id") =!= 1)
      .crossJoin(broadcast(query))
      .withColumn("c", dot(col("e"), col("q")))
      .filter(col("c") >= tau)
      .select(col("vec_id"), round(col("c"), 6).as("cos_sim"))
      .as[(Long, Double)].collect().toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    assert(want.size >= 30, "cluster 0's members must qualify (corpus shape)")
    // the pruning half of the contract: re-derive the surviving-cell
    // count with the operator's own bound arithmetic and pin that the
    // bound excluded most of the index on clustered data
    val t = math.sqrt(2.0 - 2.0 * tau)
    def d(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      math.sqrt(math.max(0.0, 2.0 - 2.0 * dot))
    }
    val centArr = cents.select(col("label"), col("centroid"))
      .as[(Int, Seq[Double])].collect().toMap.map { case (k, s) => k -> s.toArray }
    val radii = index.join(cents, "label")
      .withColumn("d", sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * dot(col("e"), col("centroid")))))
      .groupBy("label").agg(max("d").as("r"))
      .as[(Int, Double)].collect().toMap
    val q = v.filter(col("vec_id") === 1).select("e")
      .as[Seq[Double]].head().toArray
    val survivors = centArr.keys.count(c => d(q, centArr(c)) - radii(c) <= t + 1e-9)
    assert(survivors <= 2,
      s"clustered corpus must prune most cells, $survivors/8 survived")
  }
}
