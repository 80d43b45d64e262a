package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan 2007) as a driver-
  * coordinated fixpoint operator — the community-detection sibling of
  * [[Components]]. Deterministic throughout: every node
  * simultaneously adopts the MODE of its neighbors' labels, ties
  * toward the smallest label ((count DESC, label ASC) row_number —
  * the async/random-order variants converge faster but aren't
  * reproducible, and a pipeline signal must be).
  *
  * Synchronous LPA has a known failure mode the fixpoint driver must
  * handle: on bipartite-ish structures the labels OSCILLATE with
  * period 2 (the textbook example: one edge a—b swaps labels forever).
  * The loop therefore tests each round against the previous state
  * (fixpoint) AND the state two rounds back (2-cycle); on a cycle it
  * stops and returns the cycle state with the smaller label sum — a
  * deterministic choice between the two alternating states.
  *
  * Per round: ONE |edges| shuffle (adjacency ⋈ labels) + a map-side-
  * combined (node, label) count + a map-side-combined min_by modal
  * pick (no sort anywhere in the round). Each round is one [[Barrier]]
  * over the new labels joined to the two earlier states; its own job
  * counts the labels that differ from each and sums the new labels, so
  * a round is one action and the 2-cycle pick reads sums already
  * observed.
  */
object LabelProp {

  case class Result(labels: DataFrame, rounds: Int, cycled: Boolean)

  /** One synchronous round: every node adopts its neighbors' modal
    * label. `adj` must be the both-direction adjacency (a, b).
    *
    * The modal pick is a `min_by` over (−count, label) — identical to
    * the (count DESC, label ASC) row_number it replaces (r13, guide
    * §2.4: an orderless aggregate where a window only picks a per-key
    * extremum): same argmax, same tie-break, but the per-node top-1
    * folds map-side inside the count exchange instead of paying a
    * second exchange + sort per round. */
  def step(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels.withColumnRenamed("node", "b"), "b")
      .groupBy(col("a").as("node"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy("node")
      .agg(min_by(col("label"), struct(-col("c"), col("label"))).as("label"))
      .select("node", "label")

  /** Self-labeled start: every node is its own community. */
  def seed(adj: DataFrame): DataFrame =
    adj.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))

  /** Runs to the fixpoint (or a detected 2-cycle), bounded by
    * `maxRounds` as the oscillation backstop. Labels are numeric (the
    * 2-cycle pick compares label sums). */
  def propagate(adj0: DataFrame, maxRounds: Int = 32): Result = {
    val (adj, _) = Barrier.materialize(adj0)
    // `prev` carries its own predecessor's labels as l1, so one join
    // brings both earlier states into the round
    @tailrec def loop(prev: DataFrame, prevSum: Long, round: Int): Result =
      if (round > maxRounds) Result(prev.select("node", "label"), round - 1, cycled = false)
      else {
        val (next, m) = Barrier.materialize(
          step(adj, prev.select("node", "label"))
            .join(prev.select(col("node"), col("label").as("l1"), col("l1").as("l2")),
              Seq("node"), "left"),
          count_if(col("label") =!= col("l1")).as("moved"),
          count_if(col("label") =!= col("l2")).as("moved2"),
          coalesce(sum("label"), lit(0L)).as("sum"))
        val (moved, moved2, nextSum) = (m.getLong(0), m.getLong(1), m.getLong(2))
        if (moved == 0) Result(prev.select("node", "label"), round, cycled = false)
        else if (round > 1 && moved2 == 0) {
          // 2-cycle: next replays the state two rounds back — pick the
          // alternating state with the smaller label sum (deterministic;
          // on equal sums the earlier state, which `next` equals, wins)
          val pick = if (prevSum < nextSum) prev else next
          Result(pick.select("node", "label"), round, cycled = true)
        } else loop(next.drop("l2"), nextSum, round + 1)
      }
    val start = seed(adj)
    loop(start.withColumn("l1", lit(null).cast(start.schema("label").dataType)), 0L, 1)
  }
}
