package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LabelProp

class LabelPropSpec extends SparkTestBase {
  import spark.implicits._

  private def adj(edges: Seq[(Long, Long)]): DataFrame = {
    val e = edges.toDF("u", "v")
    e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
  }

  test("two cliques with one bridge converge to two communities") {
    // cliques {1,2,3}, {10,11,12}, bridge 3-10
    val a = adj(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)))
    val r = LabelProp.propagate(a)
    assert(!r.cycled)
    val m = r.labels.as[(Long, Long)].collect().toMap
    assert(Set(m(1L), m(2L), m(3L)).size == 1, s"clique 1 split: $m")
    assert(Set(m(10L), m(11L), m(12L)).size == 1, s"clique 2 split: $m")
    assert(m(1L) != m(10L), s"cliques merged: $m")
  }

  test("a single edge oscillates — detected as a 2-cycle, result deterministic") {
    val a = adj(Seq((1L, 2L)))
    val r1 = LabelProp.propagate(a)
    val r2 = LabelProp.propagate(a)
    assert(r1.cycled)
    assert(r1.labels.as[(Long, Long)].collect().toMap ==
      r2.labels.as[(Long, Long)].collect().toMap)
    assert(r1.rounds <= 3)
  }

  test("three fixed steps equal the registry row's unrolled depth") {
    // the graph rows run 3 LabelProp.step calls; pin step-composition
    // against an independently-written single big expression would be
    // circular — instead pin that a converged graph is a fixpoint of
    // step (stepping the result changes nothing)
    val a = adj(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))).localCheckpoint()
    val r = LabelProp.propagate(a)
    val again = LabelProp.step(a, r.labels)
    val moved = again.withColumnRenamed("label", "l2")
      .join(r.labels, "node")
      .filter(col("label") =!= col("l2")).count()
    assert(moved == 0L, "propagate's result must be a step fixpoint")
  }

  test("job budget: one barrier per round on the two-clique graph") {
    val a = adj(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)))
    LabelProp.propagate(a).labels.collect()
    val jobs = jobsOf("label-prop-budget") {
      LabelProp.propagate(a).labels.collect()
    }
    info(s"$jobs jobs")
    assert(jobs <= 23, s"propagate launched $jobs jobs, over its budget of 23")
  }

  test("maxRounds bounds a pathological run") {
    val a = adj(Seq((1L, 2L)))
    val r = LabelProp.propagate(a, maxRounds = 1)
    assert(r.rounds == 1 && !r.cycled) // stopped by the backstop
  }
}
