package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.Pq

class PqSpec extends SparkTestBase {
  import spark.implicits._

  test("PQ: train/encode/ADC — valid codes, recall vs exact dot, 32x narrower rows") {
    val dir = "/root/testdata/sf0.01"
    val m = 16; val k = 16
    val v = graft.sources.ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .localCheckpoint()
    val books = Pq.train(v, "vec_id", "e", m, k, rounds = 3)
    val codes = Pq.encode(v, books, "vec_id", "e", m).localCheckpoint()

    // every vector got m in-range codes
    assert(codes.count() == v.count())
    val bad = codes.filter(size(col("codes")) =!= m ||
      exists(col("codes"), c => c < 0 || c >= k)).count()
    assert(bad == 0, "codes must be m dense ids in [0, k)")

    // ADC recall@10 against the exact dot ranking
    val q = v.filter(col("vec_id") === 0).select("e").as[Seq[Double]].head()
    val exact = v.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        dot(col("e"), lit(q.toArray)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val adc = Pq.adcTopK(spark, codes.filter(col("vec_id") =!= 0), books,
        q, "vec_id", m, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & adc).size / 10.0
    // measured 0.7 (these near-random 64-dim embeddings are PQ's worst
    // case; 4-dim segments × 16 codes ≈ 0.34 relative reconstruction
    // error); pinned two notches under for FP-order slack
    assert(recall >= 0.5, s"ADC recall@10: $recall (exact=$exact adc=$adc)")

    // the serving shape: ADC shortlists (cheap, codes-only), exact dot
    // re-ranks the shortlist (reads full vectors for 100 rows, not the
    // corpus) — recall recovers to ~1
    val shortlist = Pq.adcTopK(spark, codes.filter(col("vec_id") =!= 0), books,
      q, "vec_id", m, 100).select("vec_id")
    val reranked = v.join(shortlist, "vec_id")
      .select(col("vec_id"), dot(col("e"), lit(q.toArray)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val rerankRecall = (exact & reranked).size / 10.0
    assert(rerankRecall >= 0.9,
      s"ADC-shortlist + exact re-rank recall@10: $rerankRecall")

    // the memory claim: m small ints per row vs d doubles
    val d = v.select(size(col("e"))).first().getInt(0)
    assert(m * 2 <= d, "PQ must be materially narrower than the raw vectors")
  }
}
