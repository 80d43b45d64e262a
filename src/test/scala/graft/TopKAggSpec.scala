package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.plans.TopKBuffer
import graft.sources.ViewingData

/** [[plans.TopKByAgg]]: kernel properties of the k-bounded heap,
  * result parity with exact window ranking, and the plan property the
  * operator exists for — partial (map-side) aggregation, which window
  * ranking can never do.
  */
class TopKAggSpec extends SparkTestBase {

  test("kernel: offer/merge equals sort-take-k under random runs and splits") {
    val rnd = new Random(42)
    for (trial <- 1 to 50) {
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(200)
      // duplicate scores on purpose: the id tiebreak must decide
      val rows = Array.fill(n)((rnd.nextInt(20).toDouble, rnd.nextInt(1000).toLong))
      val expect = rows.distinct.sortBy { case (s, id) => (-s, id) }.take(k)
      // note: duplicates of the SAME (score, id) pair may both be
      // retained (a multiset aggregate, like the window form over
      // duplicate rows) — dedupe the input instead for the kernel check
      val distinctRows = rows.distinct
      val splits = distinctRows.grouped(1 + rnd.nextInt(10)).toSeq
      val merged = splits
        .map { part =>
          val b = new TopKBuffer(k)
          part.foreach { case (s, id) => b.offer(s, id) }
          TopKBuffer.fromBytes(b.toBytes) // round-trip serialization
        }
        .foldLeft(new TopKBuffer(k)) { (acc, b) => acc.mergeIn(b); acc }
      assert(merged.sortedBestFirst.toSeq == expect.toSeq, s"trial $trial (k=$k, n=$n)")
    }
  }

  test("matches exact window ranking on orders (the q_topk_agg shape)") {
    val got = SparkEntry.queries("q_topk_agg")(spark, Sf)
      .orderBy("o_orderpriority", "rnk")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val orders = ViewingData.table(spark, Sf, "orders")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expect = orders
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("o_orderpriority", "rnk")
      .select("o_orderpriority", "rnk", "o_orderkey")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
  }

  test("plan pre-aggregates: partial topk_by on the map side, no window sort of all rows") {
    val plan = ViewingData.table(spark, Sf, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("topk_by(o_totalprice, o_orderkey, 3)").as("top"))
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate runs TypedImperativeAggregates in two modes:
    // partial before the exchange, final after — assert both exist
    assert("(?s)ObjectHashAggregate.*partial_topk_by".r.findFirstIn(plan).isDefined
        || plan.contains("partial_topk_by"),
      s"expected a partial (map-side) topk_by below the exchange:\n$plan")
    assert(!plan.contains("Window"), s"no window operator expected:\n$plan")
  }

  test("NaN and null handling: nulls skipped, NaN ranks above +Inf (Spark DESC order)") {
    import spark.implicits._
    val df = Seq(
      (Some(Double.NaN), Some(1L)),
      (Some(Double.PositiveInfinity), Some(2L)),
      (Some(5.0), Some(3L)),
      (None, Some(4L)),
      (Some(9.0), None))
      .toDF("s", "id")
      .agg(expr("topk_by(s, id, 2)").as("top"))
      .select(explode(col("top")))
      .select("col.id")
      .collect().map(_.getLong(0)).toSeq
    assert(df == Seq(1L, 2L), s"got $df")
  }
}
