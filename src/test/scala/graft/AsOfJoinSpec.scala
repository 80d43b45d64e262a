package graft

import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("each left row gets the greatest right ts <= its ts, per key") {
    val left = Seq((1L, "a", 100L), (2L, "a", 250L), (3L, "a", 50L), (4L, "b", 100L))
      .toDF("id", "k", "t")
    val right = Seq(("a", 100L, "r100"), ("a", 200L, "r200"), ("b", 999L, "rz"))
      .toDF("k", "t", "ref")
    val out = AsOfJoin.nearestBefore(left, right, Seq("k"), "t", Seq("ref"))
      .select("id", "ref").as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("r100")) // equal ts matches (>= semantics)
    assert(out(2L).contains("r200")) // latest earlier
    assert(out(3L).isEmpty)          // nothing at or before 50
    assert(out(4L).isEmpty)          // right exists but only later
  }

  test("plan shuffles once on the key (no range-join row explosion)") {
    val left = Seq((1L, "a", 100L)).toDF("id", "k", "t")
    val right = Seq(("a", 90L, "r")).toDF("k", "t", "ref")
    val plan = AsOfJoin.nearestBefore(left, right, Seq("k"), "t", Seq("ref"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
  }

  test("matched row's NULLs survive; multi-column carry is atomic") {
    // Right rows: at t=100 (ref="r100", aux=null), at t=200 (ref=null, aux=7).
    // A per-column fill would tear: left@250 would get ref="r100" (stale)
    // + aux=7. Atomic carry must return the t=200 row verbatim: (null, 7).
    val left = Seq((1L, "a", 250L), (2L, "a", 150L)).toDF("id", "k", "t")
    val right = Seq(
      ("a", 100L, Some("r100"), None: Option[Long]),
      ("a", 200L, None: Option[String], Some(7L))
    ).toDF("k", "t", "ref", "aux")
    val out = AsOfJoin.nearestBefore(left, right, Seq("k"), "t", Seq("ref", "aux"))
      .select("id", "ref", "aux")
      .as[(Long, Option[String], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (None, Some(7L)), "must take t=200 row atomically")
    assert(out(2L) == (Some("r100"), None), "must keep matched row's null aux")
  }

  test("carry-column collision is rejected") {
    val left = Seq((1L, "a", 100L, "x")).toDF("id", "k", "t", "ref")
    val right = Seq(("a", 90L, "r")).toDF("k", "t", "ref")
    intercept[IllegalArgumentException] {
      AsOfJoin.nearestBefore(left, right, Seq("k"), "t", Seq("ref"))
    }
  }

  test("nearestClosest: duplicate right rows at one (key, ts) pick the max carry deterministically") {
    // Contract says pre-aggregate, but the bare operator must not be
    // shuffle-order-dependent: with an orderable carry the window adds
    // the carry struct as a tiebreak, so the max-carry duplicate wins
    // on every run (before side) / min-carry (after side).
    val left = Seq((1L, "a", 100L), (2L, "a", 40L)).toDF("id", "k", "t")
    val right = Seq(
      ("a", 90L, "dupA"), ("a", 90L, "dupZ"), // both before t=100
      ("a", 50L, "aftA"), ("a", 50L, "aftZ")) // both after  t=40
    val dist = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      abs(a - b)
    (1 to 3).foreach { i =>
      val r = right.toDF("k", "t", "ref")
        .repartition(i) // vary physical delivery order across runs
      val out = AsOfJoin.nearestClosest(left, r, "k", "t", Seq("ref"), dist)
        .select("id", "ref").as[(Long, String)].collect().toMap
      assert(out(1L) == "dupZ", s"before-side dup must resolve to max carry (run $i)")
      assert(out(2L) == "aftA", s"after-side dup must resolve to min carry (run $i)")
    }
  }

  /** The union+window form and the broadcast probe on the same inputs. */
  private def bothRoutes(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame): Seq[Map[Long, Option[String]]] =
    Seq(AsOfJoin.nearestBefore(left, right, Seq("k"), "t", Seq("ref")),
      AsOfJoin.broadcastAsOf(left, right, Seq("k"), "t", Seq("ref"), forward = false))
      .map(_.select("id", "ref").as[(Long, Option[String])].collect().toMap)

  test("NULL keys and NULL right times never match, on both routes") {
    // SQL equality, DuckDB's ASOF LEFT JOIN: a NULL left key does not
    // meet a NULL right key, and a right row with no time is never "at
    // or before" anything
    val left = Seq((1L, Some("u1"), 100L), (2L, None: Option[String], 100L),
      (3L, Some("u2"), 100L)).toDF("id", "k", "t")
    val right = Seq(
      (Some("u1"), Some(50L), "r50"),
      (None: Option[String], Some(100L), "nullkey"),
      (Some("u2"), None: Option[Long], "nulltime")).toDF("k", "t", "ref")
    bothRoutes(left, right).foreach { out =>
      assert(out == Map(1L -> Some("r50"), 2L -> None, 3L -> None), out)
    }
  }

  test("duplicate (key, ts) right rows resolve to the max carry, on both routes") {
    val left = Seq((1L, "a", 100L)).toDF("id", "k", "t")
    (1 to 3).foreach { i =>
      // vary physical delivery order across runs
      val right = Seq(("a", 90L, "z"), ("a", 90L, "a"), ("a", 90L, "m"))
        .toDF("k", "t", "ref").repartition(i)
      bothRoutes(left, right).foreach { out =>
        assert(out == Map(1L -> Some("z")), s"run $i: $out")
      }
    }
  }

  test("double times and keys: nearestBefore matches, the broadcast probe refuses") {
    val left = Seq((1L, "a", 1.5), (2L, "a", 0.5), (3L, "a", 2.0)).toDF("id", "k", "t")
    val right = Seq(("a", 1.0, "r1"), ("a", 2.0, "r2")).toDF("k", "t", "ref")
    assert(AsOfJoin.nearestBefore(left, right, Seq("k"), "t", Seq("ref"))
      .select("id", "ref").as[(Long, Option[String])].collect().toMap ==
      Map(1L -> Some("r1"), 2L -> None, 3L -> Some("r2")))
    // the index stores long times: a double time would probe garbage
    intercept[IllegalArgumentException] {
      AsOfJoin.broadcastAsOf(left, right, Seq("k"), "t", Seq("ref"), forward = false)
    }
    // SQL equality and the window's partitioning normalize -0.0 to 0.0,
    // top-level and nested; the index's byte keys would not, so any key
    // holding a double is refused
    val keys = Seq(
      (Seq((1L, -0.0, 5L)).toDF("id", "k", "t"), Seq((0.0, 1L, "r")).toDF("k", "t", "ref")),
      (Seq((1L, -0.0, 5L)).toDF("id", "d", "t").select(col("id"), struct(col("d")).as("k"), col("t")),
        Seq((0.0, 1L, "r")).toDF("d", "t", "ref").select(struct(col("d")).as("k"), col("t"), col("ref"))))
    keys.foreach { case (l, r) =>
      assert(AsOfJoin.nearestBefore(l, r, Seq("k"), "t", Seq("ref"))
        .select("ref").as[Option[String]].collect().toSeq == Seq(Some("r")))
      intercept[IllegalArgumentException] {
        AsOfJoin.nearestAfterBroadcast(l, r, "k", "t", Seq("ref"))
      }
    }
  }

  test("nearestClosest: NULL keys and NULL right times never match") {
    val left = Seq((1L, Some("u1"), 100L), (2L, None: Option[String], 100L),
      (3L, Some("u2"), 100L)).toDF("id", "k", "t")
    val right = Seq(
      (Some("u1"), Some(120L), "r120"),
      (None: Option[String], Some(100L), "nullkey"),
      (Some("u2"), None: Option[Long], "nulltime")).toDF("k", "t", "ref")
    val out = AsOfJoin.nearestClosest(left, right, "k", "t", Seq("ref"),
        (a, b) => abs(a - b))
      .select("id", "ref").as[(Long, Option[String])].collect().toMap
    assert(out == Map(1L -> Some("r120"), 2L -> None, 3L -> None), out)
  }
}
