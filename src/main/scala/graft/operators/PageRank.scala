package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank over an edge list — the link-graph quality signal
  * web-corpus curation feeds into its quality classifiers (a page's
  * rank is a training-data feature the same way unigram logprob is;
  * reference: Page et al. 1999, the random-surfer formulation).
  *
  * Superstep shape matches [[Components]]: per iteration ONE shuffle
  * join (ranks onto edges, pre-divided by out-degree), one map-side-
  * combined sum per destination, one O(1)-row dangling-mass aggregate
  * (control-plane scalar, like the convergence sums), and one
  * [[Barrier]]. The node set's barrier observes N, so counting the
  * nodes costs no job of its own. Iterations are fixed (the usual
  * 10-20), so the whole job is `iterations` shuffles of |edges| — no
  * per-node driver work.
  *
  * Uses the unnormalized convention rank = (1-d) + d*(inflow +
  * danglingMass/N): the rank SUM is invariant at N every iteration
  * (dangling mass redistributed uniformly), which the spec pins as an
  * exact conservation law. */
object PageRank {

  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val (nodes, counts) = Barrier.materialize(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct(),
      count(lit(1)).as("n"))
    val n = counts.getLong(0)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val (linked, _) = Barrier.materialize(e.join(outDeg, "src")) // (src, dst, deg)
    val (sinkIds, _) = Barrier.materialize(
      nodes.join(outDeg.select(col("src").as("id")), Seq("id"), "left_anti"))
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (_ <- 1 to iterations) {
      val contribs = linked.join(ranks, linked("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      // dangling mass rides the SAME plan as the rank update (a 1-row
      // aggregate cross-joined in) instead of a per-iteration .head
      // action — the iteration count is fixed, so the loop's only
      // action is the checkpoint: one job per superstep, not two.
      // col("__dm") / n.toDouble is the identical IEEE division the
      // driver-side lit(danglingMass / n) evaluated (n: Long widens
      // to Double either way), so ranks are bit-equal (PageRankSpec
      // pins hand-computed fixpoints; the oracle hash pins the rest).
      val dangling = ranks.join(sinkIds, Seq("id"), "left_semi")
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
      ranks = Barrier.materialize(nodes.join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit(1.0 - damping) + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + col("__dm") / lit(n.toDouble))).as("rank")))._1
    }
    ranks
  }
}
