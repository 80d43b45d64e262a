package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.AsOfJoin

/** Property check: both as-of plans — the single-shuffle union+window
  * form and the broadcast probe — agree with the naive
  * per-row scan (for each left row, the right row with the greatest
  * ts <= left ts on the same key) on arbitrary inputs: NULL keys and
  * times on both sides, duplicate (key, ts) right rows, one- and
  * two-column keys, and keys with no right rows. */
class AsOfJoinPropertySpec extends SparkTestBase {
  import spark.implicits._

  type L = (Long, Option[String], Option[Long], Option[Long]) // id, k1, k2, t
  type R = (Option[String], Option[Long], Option[Long], Option[String]) // k1, k2, t, ref

  private def sometimes[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(9 -> g.map(Some(_)), 1 -> Gen.const(None))

  private val genCase: Gen[(Boolean, List[L], List[R])] = for {
    multi <- Gen.oneOf(false, true)
    nl <- Gen.choose(0, 40)
    nr <- Gen.choose(0, 25)
    left <- Gen.listOfN(nl, for {
      k1 <- sometimes(Gen.oneOf("a", "b", "c"))
      k2 <- sometimes(Gen.oneOf(1L, 2L))
      t <- sometimes(Gen.choose(0L, 30L))
    } yield (k1, k2, t))
    // a narrower ts range so duplicate (key, ts) right rows are common
    right <- Gen.listOfN(nr, for {
      k1 <- sometimes(Gen.oneOf("a", "b", "c"))
      k2 <- sometimes(Gen.oneOf(1L, 2L))
      t <- sometimes(Gen.choose(0L, 15L))
      ref <- sometimes(Gen.oneOf("r0", "r1", "r2", "r3"))
    } yield (k1, k2, t, ref))
  } yield (multi,
    left.zipWithIndex.map { case ((k1, k2, t), i) => (i.toLong, k1, k2, t) },
    // a key no left row has: a carry leak across key groups must fail
    (Some("zz"), Some(1L), Some(-1L), Some("none")) :: right)

  /** SQL NULL semantics — a NULL key or time matches nothing — and
    * duplicates at one (key, ts) resolve to the max carry (NULL
    * first, as the window's ascending carry tiebreak sorts it). */
  private def naive(multi: Boolean, left: List[L], right: List[R]): Map[Long, Option[String]] =
    left.map { case (id, k1, k2, t) =>
      val keyed = k1.isDefined && (!multi || k2.isDefined) && t.isDefined
      id -> (if (!keyed) None else right
        .filter(r => r._1 == k1 && (!multi || r._2 == k2) && r._3.exists(_ <= t.get))
        .maxByOption(r => (r._3.get, r._4)).flatMap(_._4))
    }.toMap

  test("as-of join equals the naive scan on 25 random cases") {
    var seed = Seed(20260812L)
    for (i <- 1 to 25) {
      val (multi, left, right) = genCase.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val expected = naive(multi, left, right)
      val keys = if (multi) Seq("k1", "k2") else Seq("k1")
      val l = left.toDF("id", "k1", "k2", "t")
      // round-robin the right side so duplicates arrive out of order
      val r = right.toDF("k1", "k2", "t", "ref").repartition(3)
      Seq(AsOfJoin.nearestBefore(l, r, keys, "t", Seq("ref")) -> "union+window",
          AsOfJoin.broadcastAsOf(l, r, keys, "t", Seq("ref"), forward = false) -> "broadcast")
        .foreach { case (df, route) =>
          val out = df.select("id", "ref").as[(Long, Option[String])].collect().toMap
          assert(out == expected, s"case $i ($route, multi=$multi): got $out\nexpected $expected")
        }
    }
  }
}
