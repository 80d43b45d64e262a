package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Components

class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** The distributed min-propagation loop, upfront local solve off. */
  private def compsLoop(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.routed(edges.toDF("a", "b"), "a", "b", upfrontLocalMaxEdges = 0L)._1
      .as[(Long, Long)].collect().toMap

  test("upfront local solve == the distributed loop on every small shape") {
    // the r10 fast path: graphs under the endgame bound are solved by
    // one driver union-find — labels must be indistinguishable from
    // the loop's, including the empty graph and reversed/duplicate
    // edges
    val cases = Seq(
      Seq.empty[(Long, Long)],
      (0L until 20L).map(i => (i, i + 1)),
      Seq((5L, 1L), (1L, 9L)),
      Seq((3L, 1L), (1L, 3L), (3L, 1L)),
      (0L until 10L).flatMap { c =>
        val ids = (0L until 4L).map(c * 100 + _)
        for (a <- ids; b <- ids if a < b) yield (a, b) })
    cases.foreach { c =>
      assert(comps(c) == compsLoop(c), s"fast path must match the loop: $c")
    }
  }

  test("chain, triangle, and singleton pair resolve to min-id components") {
    val m = comps(Seq((1L, 2L), (2L, 3L), (3L, 4L), // chain: tests propagation depth
      (10L, 11L), (11L, 12L), (10L, 12L),           // triangle
      (20L, 21L)))
    assert(Seq(1L, 2L, 3L, 4L).forall(m(_) == 1L), s"chain: $m")
    assert(Seq(10L, 11L, 12L).forall(m(_) == 10L))
    assert(m(20L) == 20L && m(21L) == 20L)
  }

  test("long chain needs multiple supersteps and still converges") {
    // loop path explicitly: the default would solve this locally
    val chain = (0L until 20L).map(i => (i, i + 1))
    val m = compsLoop(chain)
    assert((0L to 20L).forall(m(_) == 0L), s"got $m")
  }

  test("edge direction is irrelevant (undirected closure)") {
    assert(comps(Seq((5L, 1L), (1L, 9L))) == Map(1L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("empty edge list yields an empty labeling, not a crash") {
    assert(comps(Seq.empty) == Map.empty)
  }

  // ---- alternating-star variant (O(log n) rounds) ----

  private def star(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponentsStar(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("star CC equals min-propagation on path, star, cliques, singletons") {
    val cases = Seq(
      (0L until 30L).map(i => (i, i + 1)),                  // deep path
      (1L to 20L).map(i => (0L, i)),                        // star (already converged shape)
      Seq((1L, 2L), (2L, 3L), (1L, 3L),                     // clique + clique
        (7L, 8L), (8L, 9L), (7L, 9L)),
      Seq((100L, 5L)),                                      // single edge, reversed ids
      Seq((3L, 1L), (1L, 3L), (3L, 1L)))                    // duplicates both ways
    cases.foreach { c => assert(star(c) == comps(c), s"case $c") }
  }

  test("star CC equals min-propagation on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 60
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(star(edges) == comps(edges))
    }
  }

  test("star CC converges on a 200-node path — the diameter min-propagation pays for") {
    val path = (0L until 200L).map(i => (i, i + 1))
    val m = star(path)
    assert((0L to 200L).forall(m(_) == 0L))
  }

  // ---- the route: local solve, min-propagation, probe, star ----

  private def route(edges: Seq[(Long, Long)]): (Map[Long, Long], String) = {
    // upfront local solve OFF: these cases pin the PROBE semantics
    // (minprop-vs-star picks), which the fast path would short-circuit
    val (df, pick) = Components.routed(edges.toDF("a", "b"), "a", "b", upfrontLocalMaxEdges = 0L)
    (df.as[(Long, Long)].collect().toMap, pick)
  }

  test("route defaults to the upfront local solve under the bound, labels identical") {
    val cliques = (0L until 6L).flatMap { c =>
      val ids = (0L until 4L).map(c * 100 + _)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    val (df, pick) = Components.routed(cliques.toDF("a", "b"), "a", "b")
    assert(pick == "local", "under the bound the driver union-find answers")
    assert(df.as[(Long, Long)].collect().toMap == comps(cliques))
  }

  test("route keeps min-propagation on a shallow near-dup cluster graph") {
    // disjoint near-dup cliques (diameter 1-2) — the dedup workload:
    // converged within the probe, star is never consulted
    val cliques = (0L until 10L).flatMap { c =>
      val ids = (0L until 4L).map(c * 100 + _)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    val (m, pick) = route(cliques)
    assert(pick == "minprop", s"shallow graph must stay on min-propagation")
    assert(m == comps(cliques), "labels identical to the plain operator")
  }

  test("route switches to star on a percolated long-diameter graph, labels identical") {
    // a 120-node path: after 3 probe rounds the label frontier has
    // moved 3 hops — nearly every label is still changing, the
    // percolation signal
    val path = (0L until 120L).map(i => (i, i + 1))
    val (m, pick) = route(path)
    assert(pick == "star", "long diameter must switch to alternating star")
    assert((0L to 120L).forall(m(_) == 0L))
    assert(m == comps(path), "labels identical to min-propagation")
  }

  test("route on empty and tiny inputs: no crash, minprop pick") {
    assert(route(Seq.empty) == (Map.empty, "minprop"))
    val (m, pick) = route(Seq((9L, 2L)))
    assert(pick == "minprop" && m == Map(2L -> 2L, 9L -> 2L))
  }

  test("percolation knee: mid-density mixes flip the pick exactly at the threshold") {
    // The probe's decision variable after probeRounds=3 supersteps is
    // changed/total vs threshold 0.2. A mix of settled cliques (zero
    // changed labels after the init fold) and ONE path (whose frontier
    // keeps ~(P-3) labels moving at the readout) lets the ratio be
    // DIALED: path nodes 4..P still change on the readout round, so
    // ratio = (P-3) / (4·cliques + P + 1). The two cases below sit
    // just under and just over the knee — not the pure extremes the
    // older cases pin — so a future change to probeRounds, the
    // threshold, or the readout arithmetic moves at least one of them.
    def mix(cliques: Int, pathLen: Int): Seq[(Long, Long)] = {
      val cliqueEdges = (0 until cliques).flatMap { c =>
        val ids = (0L until 4L).map(c * 1000L + 10000L + _)
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }
      cliqueEdges ++ (0L until pathLen.toLong).map(i => (i, i + 1))
    }
    // 35 cliques (140 nodes) + path P=30 (31 nodes): changed = 27,
    // total = 171, ratio 0.158 < 0.2 → stays on min-propagation
    val below = mix(35, 30)
    val (mBelow, pickBelow) = route(below)
    assert(pickBelow == "minprop",
      s"ratio ≈ 0.158 is under the 0.2 knee — must stay minprop")
    assert(mBelow == comps(below))
    // 25 cliques (100 nodes) + path P=40 (41 nodes): changed = 37,
    // total = 141, ratio 0.262 ≥ 0.2 → star restart
    val above = mix(25, 40)
    val (mAbove, pickAbove) = route(above)
    assert(pickAbove == "star",
      s"ratio ≈ 0.262 is over the 0.2 knee — must switch to star")
    assert(mAbove == comps(above))
  }

  test("route with string or double ids never takes star and labels correctly") {
    // the star engine casts ids to long; a string id would null every
    // edge under non-ANSI mode — the route must detect the type at
    // entry and stay on min-propagation even when the graph LOOKS
    // percolated
    val path = (0 until 60).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
    val (labels, pick) = Components.routed(path.toDF("a", "b"), "a", "b")
    val m = labels.as[(String, String)].collect().toMap
    assert(pick == "minprop",
      "string ids must disable the star option AND the local fast path")
    assert((0 to 60).forall(i => m(f"n$i%03d") == "n000"), s"$m")
    // fractional ids whose minimum sits at the far end of the path:
    // the stop rule counts labels that decreased, so it must see every
    // fractional step of the walk
    val id = (i: Int) => 100.0 - i * 1.25
    val dpath = (0 until 60).map(i => (id(i), id(i + 1)))
    val (dLabels, dPick) = Components.routed(dpath.toDF("a", "b"), "a", "b")
    val dm = dLabels.as[(Double, Double)].collect().toMap
    assert(dPick == "minprop", "double ids must disable star and the local fast path")
    assert(dm.size == 61 && dm.values.forall(_ == id(60)), s"$dm")
  }

  test("star-restart endgame: local union-find and distributed star give identical labels") {
    // percolated graph (the route switches to star): solve the contracted
    // graph BOTH ways by steering localSolveMaxEdges — default (well
    // above the contracted size → driver union-find) vs 0 (forces
    // the distributed star fixpoint) — labels must be identical and
    // equal to plain min-propagation
    val path = (0L until 150L).map(i => (i, i + 1)) ++
      Seq((500L, 501L), (501L, 502L), (500L, 502L)) // plus a settled clique
    val df = path.toDF("a", "b")
    val (viaLocal, p1) = Components.routed(df, "a", "b", upfrontLocalMaxEdges = 0L)
    val (viaStar, p2) = Components.routed(df, "a", "b",
      upfrontLocalMaxEdges = 0L, localSolveMaxEdges = 0L)
    assert(p1 == "star" && p2 == "star")
    val mLocal = viaLocal.as[(Long, Long)].collect().toMap
    val mStar = viaStar.as[(Long, Long)].collect().toMap
    assert(mLocal == mStar, "the endgame pick must not change labels")
    assert(mLocal == comps(path), "and both equal plain min-propagation")
    assert((0L to 150L).forall(mLocal(_) == 0L))
    assert(Seq(500L, 501L, 502L).forall(mLocal(_) == 500L),
      "settled-clique labels survive the left-join fallback")
  }

  test("job budget per route: one barrier per round, no separate stop-signal job") {
    val cliques = (0L until 10L).flatMap { c =>
      val ids = (0L until 4L).map(c * 100 + _)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toDF("a", "b")
    val path = (n: Long) => (0L until n).map(i => (i, i + 1))
    val strings = (0 until 60).map(i => (f"n$i%03d", f"n${i + 1}%03d")).toDF("a", "b")
    // (name, run, expected route, budget); counted warm, labels collected
    val cases = Seq[(String, () => (DataFrame, String), String, Int)](
      ("local", () => Components.routed(cliques, "a", "b"), "local", 6),
      ("minprop", () => Components.routed(cliques, "a", "b", upfrontLocalMaxEdges = 0L),
        "minprop", 7),
      ("star + local endgame", () => Components.routed(path(120).toDF("a", "b"), "a", "b",
        upfrontLocalMaxEdges = 0L), "star", 18),
      ("distributed star", () => Components.routed(
        (path(150) ++ Seq((500L, 501L), (501L, 502L), (500L, 502L))).toDF("a", "b"), "a", "b",
        upfrontLocalMaxEdges = 0L, localSolveMaxEdges = 0L), "star", 92),
      ("string ids", () => Components.routed(strings, "a", "b"), "minprop", 185))
    cases.foreach { case (name, run, expected, budget) =>
      run()._1.collect()
      var picked = ""
      val jobs = jobsOf(s"components-$name") {
        val (labels, route) = run()
        labels.collect()
        picked = route
      }
      info(s"$name: $jobs jobs")
      assert(picked == expected, name)
      assert(jobs <= budget, s"$name launched $jobs jobs, over its budget of $budget")
    }
  }

  test("star fixpoint signature is collision-proof: the ADVICE pair of edge sets") {
    // {(1,4),(2,3)} and {(1,3),(2,4)} share (count, Σu, Σv) = (2,3,7);
    // the hash-sum component must distinguish them so a
    // changed-but-colliding round can't stop early. Both are valid
    // 4-node inputs — star must label each correctly (one component
    // via 2-3-...? no: each is two disjoint edges → two components).
    val mA = star(Seq((1L, 4L), (2L, 3L)))
    assert(mA == Map(1L -> 1L, 4L -> 1L, 2L -> 2L, 3L -> 2L), s"$mA")
    val mB = star(Seq((1L, 3L), (2L, 4L)))
    assert(mB == Map(1L -> 1L, 3L -> 1L, 2L -> 2L, 4L -> 2L), s"$mB")
  }
}
