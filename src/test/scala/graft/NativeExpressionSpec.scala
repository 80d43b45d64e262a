package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.sources.ViewingData

class NativeExpressionSpec extends SparkTestBase {
  import spark.implicits._

  /** The reference dot product: Spark's own higher-order fold, which no
    * rule rewrites, so it never plans as vec_dot. */
  def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("vec_dot is bitwise-identical to the higher-order dot on real embeddings") {
    val v = ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("e"))
    val q = v.limit(1).select(col("e").as("qe"))
    val both = v.crossJoin(broadcast(q)).select(
      foldDot(col("e"), col("qe")).as("hof"),
      VectorFunctions.dot(col("e"), col("qe")).as("native"))
    val plan = both.queryExecution.optimizedPlan.toString
    assert(plan.contains("zip_with") && plan.contains("vec_dot"),
      s"the reference must stay a fold beside vec_dot:\n$plan")
    assert(both.count() > 0)
    val diffs = both.filter(!(col("hof") <=> col("native"))).count()
    assert(diffs == 0, "summation order must match the HOF left fold exactly")
  }

  test("vec_dot participates in WholeStageCodegen over a parquet scan") {
    // Inputs must be plain array<double> attributes: a transform-lambda
    // cast in the same projection is CodegenFallback and would push the
    // whole stage to interpreted eval (the pair-join queries pre-cast
    // in an earlier projection for exactly this reason).
    val tmp = java.nio.file.Files.createTempDirectory("vecdot").toString + "/t"
    ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("e"))
      .write.parquet(tmp)
    val df = spark.read.parquet(tmp)
      .select(VectorFunctions.dot(col("e"), col("e")).as("d"))
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("vec_dot")),
      s"expected vec_dot inside a codegen stage in:\n$plan")
  }

  test("VectorFunctions.dot plans vec_dot and matches the reference fold") {
    val tmp = java.nio.file.Files.createTempDirectory("vecdot_ref").toString + "/t"
    ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("e"))
      .write.parquet(tmp)
    val native = spark.read.parquet(tmp)
      .select(col("vec_id"), VectorFunctions.dot(col("e"), col("e")).as("d"))
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("vec_dot") && !plan.contains("zip_with"),
      s"VectorFunctions.dot should plan as vec_dot alone:\n$plan")
    val reference = spark.read.parquet(tmp)
      .select(col("vec_id"), foldDot(col("e"), col("e")).as("d"))
    assert(native.count() > 0)
    assert(native.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      reference.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    // NULL wherever the fold is NULL: unequal lengths, a NULL element, a
    // NULL array; an empty pair sums to 0.0
    val edges = Seq[(Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])](
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0)))),
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(3.0), Some(4.0)))),
      (None, Some(Seq(Some(1.0)))),
      (Some(Nil), Some(Nil)),
      (Some(Seq(Some(0.1), Some(0.2))), Some(Seq(Some(0.3), Some(0.7))))
    ).toDF("a", "b")
      .select(VectorFunctions.dot(col("a"), col("b")), foldDot(col("a"), col("b")))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(edges.map(_._1) == edges.map(_._2))
    assert(edges.map(_._1) == Seq(None, None, None, Some(0.0), Some(0.1 * 0.3 + 0.2 * 0.7)))
  }

  test("vec_q8 quantization: bounded error, exact edge cases, null semantics") {
    // literal path (constant folding exercises interpreted eval)
    val edge = spark.sql("""SELECT
        vec_q8(array(127.0d, -127.0d, 0.0d)) AS exact,
        vec_q8(array(0.0d, 0.0d)) AS zeros,
        vec_dot_q8(vec_q8(array(1.0d, 2.0d)), vec_q8(array(1.0d, 2.0d, 3.0d))) AS mismatch""")
      .collect().head
    val exact = edge.getStruct(0)
    assert(exact.getSeq[Byte](0) == Seq[Byte](127, -127, 0))
    assert(exact.getDouble(1) == 1.0)
    val zeros = edge.getStruct(1)
    assert(zeros.getSeq[Byte](0) == Seq[Byte](0, 0) && zeros.getDouble(1) == 0.0)
    assert(edge.isNullAt(2), "length mismatch must be NULL like vec_dot")

    // dataframe/codegen path over real embeddings: |q8 dot − exact dot|
    // is bounded by the per-element quantization step (scale/2 each side)
    val v = ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id"),
        VectorFunctions.normalize(VectorFunctions.toDouble(col("embedding"))).as("e"))
      .withColumn("z", VectorFunctions.quantize(col("e")))
    val q = v.limit(1).select(col("e").as("qe"), col("z").as("qz"))
    val err = v.crossJoin(broadcast(q))
      .select(abs(VectorFunctions.dotQ8(col("z"), col("qz")) -
        VectorFunctions.dot(col("e"), col("qe"))).as("err"))
      .agg(max("err")).as[Double].collect().head
    // unit vectors, d=8: worst-case error ≈ d · (s_a·|b| + s_b·|a|)/2
    // with s ≤ 1/127 — comfortably inside 0.05
    assert(err <= 0.05, s"quantized dot drifted too far: $err")
  }

  test("q8 brute-force top-10 recalls ≥0.9 of full-precision top-10") {
    val dir = "/root/testdata/sf0.01"
    val v = ViewingData.table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"),
        VectorFunctions.normalize(VectorFunctions.toDouble(col("embedding"))).as("e"))
      .withColumn("z", VectorFunctions.quantize(col("e")))
      .localCheckpoint()
    val q = v.filter(col("vec_id") === 0).select(col("e").as("qe"), col("z").as("qz"))
    def top(scored: org.apache.spark.sql.DataFrame): Set[Long] = scored
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val full = top(v.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), VectorFunctions.dot(col("e"), col("qe")).as("s")))
    val q8 = top(v.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), VectorFunctions.dotQ8(col("z"), col("qz")).as("s")))
    val recall = (full & q8).size / 10.0
    assert(recall >= 0.9, s"int8 recall@10: $recall (full=$full q8=$q8)")
  }

  test("vec_sum matches the posexplode mean pipeline and skips nulls") {
    val v = ViewingData.table(spark, Sf, "embeddings")
      .select(col("label"), VectorFunctions.toDouble(col("embedding")).as("e"))
      .repartition(8) // partial buffers must merge across partitions
    val got = v.groupBy("label")
      .agg(VectorFunctions.vecSum(col("e")).as("s"))
      .select(col("label"), explode(col("s")).as("x"))
      .groupBy("label").agg(round(sum("x"), 6).as("total"))
    val oracle = v.select(col("label"), explode(col("e")).as("x"))
      .groupBy("label").agg(round(sum("x"), 6).as("total"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty,
      "vec_sum totals must match the exploded scalar sum")

    // null rows are skipped; all-null groups yield null
    val withNulls = Seq(
      ("a", Some(Seq(1.0, 2.0))), ("a", None), ("a", Some(Seq(3.0, 4.0))),
      ("b", None)).toDF("g", "e")
    val r = withNulls.groupBy("g")
      .agg(VectorFunctions.vecSum(col("e")).as("s"))
      .orderBy("g").collect()
    assert(r(0).getSeq[Double](1) == Seq(4.0, 6.0))
    assert(r(1).isNullAt(1), "all-null group must aggregate to null")
  }

  test("vec_argmax_dot matches a driver-side argmax and breaks ties low") {
    val v = ViewingData.table(spark, Sf, "embeddings")
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("e"))
    val cands = v.orderBy("vec_id").limit(5)
      .select("e").as[Seq[Double]].collect().map(_.toArray)
    val bias = cands.map(c => -c.map(x => x * x).sum / 2.0)
    val got = v.select(col("vec_id"),
        VectorFunctions.argmaxDot(col("e"),
          typedlit(cands.map(_.toSeq).toSeq), typedlit(bias.toSeq)).as("i"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vs = v.select("vec_id", "e").as[(Long, Seq[Double])].collect()
    vs.foreach { case (id, e) =>
      val scores = cands.zip(bias).map { case (c, b) =>
        c.zip(e).map { case (a, x) => a * x }.sum + b }
      val expect = scores.indexOf(scores.max) // first max = lowest index
      assert(got(id) == expect, s"vec $id: got ${got(id)} expect $expect")
    }
    // explicit tie: two identical candidates → the lower index wins
    val tied = Seq(Seq(1.0, 0.0)).toDF("e").select(
      VectorFunctions.argmaxDot(col("e"),
        typedlit(Seq(Seq(0.5, 0.5), Seq(0.5, 0.5))),
        typedlit(Seq(0.0, 0.0))).as("i")).head().getInt(0)
    assert(tied == 0, "ties must resolve to the first (lowest) index")
  }

  test("the service-loaded session extension serves vec_dot to SQL") {
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].collect().head == 11.0)
  }
}
