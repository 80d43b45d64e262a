package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Components

/** Property check: distributed min-label propagation agrees with a
  * single-threaded union-find on arbitrary random graphs. */
class ComponentsPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 50)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 30L)
      b <- Gen.choose(0L, 30L)
      if a != b
    } yield (a, b))
  } yield edges

  private def naive(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("components equal union-find on 15 random graphs") {
    var seed = Seed(20260812L)
    for (i <- 1 to 15) {
      val edges = genEdges.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val got = Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == naive(edges), s"graph $i with ${edges.length} edges")
      // and the distributed loop (upfront local solve disabled) agrees
      val loop = Components.routed(edges.toDF("a", "b"), "a", "b", upfrontLocalMaxEdges = 0L)._1
        .as[(Long, Long)].collect().toMap
      assert(loop == naive(edges), s"loop path, graph $i")
    }
  }
}
