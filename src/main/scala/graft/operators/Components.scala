package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Connected components over an edge list: (id, comp) for every node
  * appearing in the edges, comp = the minimum node id reachable over
  * undirected edges. Near-dup canonicalization needs this: pair lists
  * (MinHash/SimHash/Jaccard output) only say "a~b"; choosing ONE
  * canonical row per duplicate cluster requires the transitive closure,
  * and the min label is a deterministic canonical id.
  *
  * There is one route, and the code picks each step from what it has
  * already observed:
  *  1. The symmetrized, deduplicated edges are one [[Barrier]] that also
  *     counts the canonical (src < dst) edges. With integral ids of one
  *     type and at most 2^16^ canonical edges, one driver union-find
  *     answers.
  *  2. Otherwise min-propagation, the Pregel superstep (GraphX's
  *     ConnectedComponents, HashToMin of Rastogi et al. ICDE'13). The
  *     first propagation is fused into the seed, comp(x) = min(x, min
  *     neighbour).
  *  3. After 3 rounds, if at least 20% of the labels still moved and
  *     the ids are integral, the graph is percolating: a chain's label
  *     frontier moves one hop a round, so min-propagation would pay its
  *     whole diameter. The round-3 labels contract the graph (edge
  *     (u, v) → (label u, label v)); every label is a member of its own
  *     component, so the contracted graph has the same component
  *     minima. The contracted graph is solved by the alternating star
  *     (Kiveris et al., SoCC'14), O(log n) rounds, and the labels
  *     compose node → round-3 label → contracted component.
  *  4. When the contracted graph has at most 2^20^ edges (≈16 MB of
  *     longs), a driver union-find replaces the star: the star pays
  *     ~10 shuffle rounds whatever the volume, which dominates once
  *     contraction has collapsed the graph. The upfront bound is far
  *     below this one because step 1 collects the raw graph: at
  *     q_geo_dbscan ×10 (≈1M raw edges, percolated) an upfront collect
  *     at 2^20^ took 32 s where probe, contraction and union-find took
  *     22 s.
  *
  * Every round is one [[Barrier]] whose own job observes the round's
  * stop signal. A min-propagation round keeps each node's previous
  * label beside the new one and counts the labels that decreased
  * (labels only decrease): the loop stops when that count is 0, which
  * is exact for every orderable id type. The same count over the
  * round's row count is the percolation readout at round 3. A star
  * round's second phase observes the signature (count, Σu, Σv,
  * Σxxhash64(u, v)) of its canonical edge set; the loop stops when it
  * repeats.
  *
  * The limits are constants: they bound driver memory and pick between
  * engines that give the same labels, so no caller has a reason to set
  * them. Specs force the distributed routes on small graphs through
  * [[routed]].
  */
object Components {

  private val ProbeRounds = 3
  private val PercolationThreshold = 0.2

  /** @return (id, comp) for every node appearing in `edges`, where
    *         comp = min node id reachable via undirected edges. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    routed(edges, srcCol, dstCol)._1

  /** [[connectedComponents]] with the two edge limits open to specs.
    * A limit of 0 turns its driver union-find off.
    * @return (labels, route), route ∈ {"local", "minprop", "star"} */
  private[graft] def routed(edges: DataFrame, srcCol: String, dstCol: String,
      upfrontLocalMaxEdges: Long = 1L << 16,
      localSolveMaxEdges: Long = 1L << 20): (DataFrame, String) = {
    val (srcType, dstType) = (edges.schema(srcCol).dataType, edges.schema(dstCol).dataType)
    val (sym, symCounts) = Barrier.materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
        .distinct(),
      count_if(col("src") < col("dst")).as("canonical"))
    // the union-find returns longs: both endpoint types must be integral
    // AND equal, or the cast back would narrow ids that only fit the
    // wider column
    if (integral(srcType) && srcType == dstType && upfrontLocalMaxEdges > 0 &&
        symCounts.getLong(0) <= upfrontLocalMaxEdges)
      return (localSolve(sym, srcType), "local")
    val starEligible = integral(srcType) && integral(dstType)

    @tailrec def propagate(labels: DataFrame, round: Int): (DataFrame, String) = {
      val prop = sym.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"))
      val (next, m) = Barrier.materialize(
        labels.select(col("id"), col("comp"), col("comp").as("prev"))
          .unionByName(prop.withColumn("prev", lit(null).cast(labels.schema("comp").dataType)))
          .groupBy("id").agg(min("comp").as("comp"), min("prev").as("prev")),
        count(lit(1)).as("nodes"),
        count_if(col("comp") < col("prev")).as("changed"))
      val (nodes, changed) = (m.getLong(0), m.getLong(1))
      val labelled = next.select("id", "comp")
      if (changed == 0) (labelled, "minprop")
      else if (round == ProbeRounds && starEligible &&
          changed.toDouble / nodes >= PercolationThreshold)
        (contractAndSolve(sym, labelled, localSolveMaxEdges), "star")
      else propagate(labelled, round + 1)
    }
    propagate(
      sym.groupBy(col("src").as("id"))
        .agg(min("dst").as("min_nbr"))
        .select(col("id"), least(col("id"), col("min_nbr")).as("comp")),
      round = 1)
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Labels from one driver union-find over the canonical half of
    * `sym`, returned in the input id type so downstream joins see the
    * schema the loop would produce. */
  private def localSolve(sym: DataFrame, idType: DataType): DataFrame = {
    val lbl = localUnionFind(sym.filter(col("src") < col("dst"))
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v")))
    // self-loop-only nodes never enter the canonical half: the left-join
    // fallback labels them with themselves
    val nodes = sym.select(col("src")).distinct()
    nodes.join(
        broadcast(lbl).select(col("id").as("__i"), col("comp").as("__c")),
        col("src").cast("long") === col("__i"), "left")
      .select(col("src").cast(idType).as("id"),
        coalesce(col("__c"), col("src").cast("long")).cast(idType).as("comp"))
  }

  /** Contracts `sym` by the partial labels, solves the contracted graph
    * (driver union-find when it has at most `localSolveMaxEdges` edges,
    * else the star) and composes node → partial label → component. */
  private def contractAndSolve(sym: DataFrame, partial: DataFrame,
      localSolveMaxEdges: Long): DataFrame = {
    val lu = partial.select(col("id").as("src"), col("comp").as("lu"))
    val lv = partial.select(col("id").as("dst"), col("comp").as("lv"))
    val (contracted, sig) = Barrier.materialize(
      canonical(sym.join(lu, "src").join(lv, "dst"), "lu", "lv"), starSig: _*)
    val starLabels =
      if (sig.getLong(0) <= localSolveMaxEdges) localUnionFind(contracted)
      else starFixpoint(contracted, sig, partial.select(col("comp").cast("long").as("id")).distinct())
    // a fully-settled cluster's contracted edges vanish as self-loops:
    // its label never reaches the solver, so the compose join is LEFT
    // with the partial label (already its component min) as fallback
    partial
      .join(starLabels.select(col("id").as("__l"), col("comp").as("__c")),
        col("comp").cast("long") === col("__l"), "left")
      .select(col("id"), coalesce(col("__c"), col("comp").cast("long")).as("comp"))
  }

  /** Each undirected edge once as longs (u < v), self-loops dropped. */
  private def canonical(df: DataFrame, a: String, b: String): DataFrame =
    df.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** Order-independent signature of a canonical edge set. (count, Σu,
    * Σv) alone collides across different edge sets ({(1,4),(2,3)} and
    * {(1,3),(2,4)} both give (2,3,7)); Σxxhash64(u, v) breaks such
    * collisions except with 2^-64^-scale probability. The hash sum
    * accumulates in decimal(38,0): a long sum of 64-bit hashes
    * overflows after a handful of edges. */
  private val starSig: Seq[Column] = Seq(
    count(lit(1)).as("edges"), sum("u").as("su"), sum("v").as("sv"),
    sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("sh"))

  /** The alternating star alone, from raw edges. Integral ids only. */
  private[graft] def connectedComponentsStar(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (canon, sig) = Barrier.materialize(canonical(edges, srcCol, dstCol), starSig: _*)
    // every input node: star rounds drop a node's edges once it
    // coincides with its component min
    starFixpoint(canon, sig,
      canon.select(col("u").as("id")).union(canon.select(col("v").as("id"))).distinct())
  }

  /** Star fixpoint over a canonical edge frame with signature `sig`,
    * labelling `nodes`. Each phase re-points part of every node's
    * neighbourhood at its minimum m(u) = min(Γ(u) ∪ {u}):
    *   large-star: (v, m(u)) for v ∈ Γ(u), v > u
    *   small-star: (v, m(u)) for v ∈ Γ(u), v < u, plus (u, m(u))
    * Both preserve connectivity; alternating them converges to a forest
    * of stars whose centers are the component minima. */
  private def starFixpoint(canon: DataFrame, sig: Row, nodes: DataFrame): DataFrame = {
    def phase(cur: DataFrame, large: Boolean, metrics: Column*): (DataFrame, Row) = {
      val sym = cur.select(col("u"), col("v"))
        .union(cur.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val withM = sym.join(m, "u")
      val out =
        if (large) withM.filter(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b"))
        else withM.filter(col("v") < col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .union(m.select(col("u").as("a"), col("m").as("b")))
      Barrier.materialize(canonical(out, "a", "b"), metrics: _*)
    }
    @tailrec def loop(e: DataFrame, prev: Row, rounds: Int): DataFrame = {
      require(rounds <= 64, "alternating-star CC failed to converge in 64 rounds")
      val (next, s) = phase(phase(e, large = true)._1, large = false, starSig: _*)
      if (s == prev) next else loop(next, s, rounds + 1)
    }
    val e = loop(canon, sig, 1)
    // converged stars: every node's min neighbour IS its component min
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    nodes.join(sym.groupBy(col("u").as("id")).agg(min("v").as("mn")), Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("mn"), col("id"))).as("comp"))
  }

  /** Driver-local union-find over a canonical (u, v) long edge frame
    * already proven small. Union points the LARGER root at the smaller,
    * so every set's root is its minimum id, matching comp = min
    * reachable id; find is path-compressed. Labels only nodes appearing
    * in edges (isolated centers take the caller's left-join fallback). */
  private def localUnionFind(canon: DataFrame): DataFrame = {
    val spark = canon.sparkSession
    import spark.implicits._
    val edges = canon.select(col("u"), col("v")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val ru = find(u); val rv = find(v)
      if (ru < rv) parent(rv) = ru
      else if (rv < ru) parent(ru) = rv
    }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "comp")
  }
}
