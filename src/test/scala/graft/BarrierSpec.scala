package graft

import org.apache.spark.sql.functions._

import graft.operators.Barrier

/** The materialization primitive: the checkpoint and its observed
  * metrics come from one job, the metrics are exact, and the frame it
  * returns reads the written rows instead of recomputing its input. */
class BarrierSpec extends SparkTestBase {
  import spark.implicits._

  test("observed metrics are exact on non-empty input, on empty input, and null-aware") {
    val df = Seq(Some(4L), None, Some(7L), None, Some(11L), Some(4L)).toDF("v").repartition(3)
    val (ck, m) = Barrier.materialize(df,
      count(lit(1)).as("rows"), count(col("v")).as("vs"), sum(col("v")).as("total"),
      count_if(col("v").isNull).as("nulls"))
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3)) == ((6L, 4L, 26L, 2L)))
    assert(m.schema.fieldNames.toSeq == Seq("rows", "vs", "total", "nulls"))
    assert(ck.count() == 6)

    val wide = spark.range(0, 10000, 1, 8).toDF()
    val (_, w) = Barrier.materialize(wide, count(lit(1)), sum(col("id")), max(col("id")))
    assert((w.getLong(0), w.getLong(1), w.getLong(2)) == ((10000L, 49995000L, 9999L)))

    for (empty <- Seq(df.filter(col("v") > 100), spark.range(0, 0, 1, 4).toDF("v"),
                      spark.emptyDataFrame.withColumn("v", lit(1L)))) {
      val (eck, e) = Barrier.materialize(empty, count(lit(1)), count(col("v")), sum(col("v")))
      assert(e.getLong(0) == 0 && e.getLong(1) == 0 && e.isNullAt(2))
      assert(eck.isEmpty)
    }
  }

  test("a barrier over a shuffle-free input launches exactly one job") {
    val input = spark.range(0, 20000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
    var rows = -1L
    val jobs = jobsOf("barrier-one-job") {
      rows = Barrier.materialize(input, count(lit(1)), sum(col("k")))._2.getLong(0)
    }
    assert(rows == 20000)
    assert(jobs == 1, s"the barrier launched $jobs jobs")
  }

  test("the returned frame does not recompute its input") {
    val calls = spark.sparkContext.longAccumulator("barrier-input-rows")
    val seen = udf { (x: Long) => calls.add(1); x }.asNondeterministic()
    val input = spark.range(0, 500, 1, 4)
      .select(seen(col("id")).as("id"), rand().as("r"))
    val (ck, m) = Barrier.materialize(input, count(lit(1)))
    assert(m.getLong(0) == 500)
    assert(calls.sum == 500)
    val first = ck.orderBy("id").collect().toSeq
    val second = ck.orderBy("id").collect().toSeq
    assert(first == second)
    assert(first.map(_.getDouble(1)).distinct.size > 1)
    assert(calls.sum == 500, "reading the barrier's frame ran its input again")
  }

  test("the returned frame's statistics are the rows it holds, not its input's estimate") {
    val left = spark.range(0, 300, 1, 4).select(col("id"), (col("id") % 10).as("k"))
    val right = spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("w"))
    val joined = left.join(right, Seq("k"), "left_outer")
    val (ck, m) = Barrier.materialize(joined, count(lit(1)))
    assert(m.getLong(0) == 300)
    val stats = ck.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(300)))
    assert(stats.sizeInBytes < joined.queryExecution.optimizedPlan.stats.sizeInBytes)
    // a chain of self-joins over barriers plans in constant time
    val chain = (1 to 30).foldLeft(ck) { (acc, _) =>
      Barrier.materialize(acc.as("a").join(acc.as("b"), col("a.id") === col("b.id"))
        .select(col("a.id"), col("a.k"), col("b.w")))._1
    }
    assert(chain.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(300)))
  }

  test("the returned frame's size is the bytes it stored, arrays included") {
    val n = 2000
    val embeddings = spark.range(0, n, 1, 4)
      .select(col("id"), expr("transform(sequence(1, 64), i -> cast(id * i as double))").as("e"))
    val (ck, m) = Barrier.materialize(embeddings, count(lit(1)))
    assert(m.getLong(0) == n)
    val stats = ck.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(n)))
    // a per-row width from the schema counts one element per array
    assert(stats.sizeInBytes >= BigInt(n) * 64 * 8,
      s"${stats.sizeInBytes} bytes for $n rows of 64 doubles")
  }

  test("release frees the checkpoint's blocks, which unpersist leaves") {
    val (ck, _) = Barrier.materialize(spark.range(0, 1000, 1, 4).toDF())
    val rddId = ck.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    def persisted = spark.sparkContext.getPersistentRDDs.contains(rddId)
    assert(persisted, "the barrier's RDD is not persisted")
    ck.unpersist(blocking = true)
    assert(persisted, "Dataset.unpersist reached the checkpoint's RDD")
    Barrier.release(ck)
    assert(!persisted, "the barrier's RDD is still persisted after release")
    intercept[IllegalArgumentException](Barrier.release(ck.filter(col("id") > 5)))
  }
}
