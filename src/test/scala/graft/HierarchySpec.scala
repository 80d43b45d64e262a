package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Hierarchy

/** CONNECT BY traversal: multi-root forests, path materialization,
  * orphan-cycle surfacing (where SQL CONNECT BY would loop), agreement
  * of both routes (the driver walk and the barrier loop, forced through
  * `routed(…, 0)`) with a parent walk written here, the inputs the
  * driver walk refuses, and each route's job budget. */
class HierarchySpec extends SparkTestBase {
  import spark.implicits._

  test("forest with two roots: roots, depths, and paths are exact") {
    val nodes = Seq(
      (1L, None: Option[Long]),   // root A
      (2L, Some(1L)), (3L, Some(1L)),
      (4L, Some(3L)),
      (10L, None: Option[Long]),  // root B
      (11L, Some(10L))
    ).toDF("id", "parent")
    val out = Hierarchy.connectBy(nodes, "id", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 0, "1")))
    assert(out(4L) == ((1L, 2, "1/3/4")))
    assert(out(11L) == ((10L, 1, "10/11")))
    assert(out.size == 6)
  }

  test("orphan cycle surfaces as NULL root instead of looping") {
    val nodes = Seq(
      (1L, None: Option[Long]), (2L, Some(1L)),
      (8L, Some(9L)), (9L, Some(8L)) // 2-cycle unreachable from a root
    ).toDF("id", "parent")
    val out = Hierarchy.connectBy(nodes, "id", "parent")
    assert(out.count() == 4)
    val orphans = out.filter(col("root_id").isNull)
      .select("id").as[Long].collect().sorted
    assert(orphans.toSeq == Seq(8L, 9L))
  }

  type Out = Map[String, (Option[String], Option[Int], Option[String])]

  /** The reference: each node walks its parent chain on the driver. A
    * chain that reaches a NULL parent resolves to that root; one that
    * meets a missing parent or repeats a node is an orphan. A NULL id
    * follows SQL: its path is NULL, as is its root when it is one. */
  def parentWalk(nodes: Seq[(String, Option[String])]): Out = {
    val parent = nodes.toMap
    nodes.map { case (id, _) =>
      @annotation.tailrec
      def up(cur: String, chain: List[String]): Option[List[String]] =
        parent.get(cur) match {
          case None => None                          // dangling parent id
          case Some(None) => Some(cur :: chain)      // reached a root
          case Some(Some(p)) =>
            if (chain.contains(cur)) None            // cycle
            else up(p, cur :: chain)
        }
      id -> (up(id, Nil) match {
        case Some(path) => (Option(path.head), Some(path.size - 1),
          if (path.contains(null)) None else Some(path.mkString("/")))
        case None => (None, None, None)
      })
    }.toMap
  }

  def collectOut(out: DataFrame): Seq[(String, (Option[String], Option[Int], Option[String]))] =
    out.select(col("id").cast("string"), col("root_id").cast("string"), col("depth"), col("path"))
      .collect().toSeq.map(r => r.getString(0) ->
        ((Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getInt(2)),
          Option(r.getString(3)))))

  /** Both routes over `df`: `connectBy`'s own, which must be `route`,
    * and the barrier loop. Each must return one row per node, equal to
    * the parent walk over `nodes` (the same rows with ids as strings),
    * and both must return the same schema. */
  def checkRoutes(label: String, df: DataFrame, nodes: Seq[(String, Option[String])],
      route: String): Unit = {
    val (chosen, took) = Hierarchy.routed(df, "id", "parent")
    assert(took == route, s"$label: took the $took route")
    val (loop, loopRoute) = Hierarchy.routed(df, "id", "parent", localMaxNodes = 0)
    assert(loopRoute == "barrier")
    assert(chosen.schema == loop.schema, s"$label: the routes' schemas differ")
    val expected = parentWalk(nodes)
    for ((name, out) <- Seq(took -> chosen, "forced barrier" -> loop)) {
      val rows = collectOut(out)
      assert(rows.size == nodes.size, s"$label, $name: one output row per node")
      assert(rows.toMap == expected, s"$label, $name: differs from the parent walk")
    }
  }

  /** `connectBy` as callers reach it, and the barrier loop forced. */
  def routes(idCol: String, parentCol: String): Seq[(String, DataFrame => DataFrame)] = Seq(
    "connectBy" -> (Hierarchy.connectBy(_, idCol, parentCol)),
    "forced barrier" -> (Hierarchy.routed(_, idCol, parentCol, localMaxNodes = 0)._1))

  def checkAgainstWalk(label: String, nodes: Seq[(String, Option[String])]): Unit =
    checkRoutes(label, nodes.toDF("id", "parent"), nodes, "local")

  /** A seeded forest with string ids: `roots` trees whose nodes hang
    * under a random earlier node, an orphan 2-cycle with a subtree off
    * it, and nodes under parent ids that do not exist. */
  def forest(seed: Long, size: Int, roots: Int): Seq[(String, Option[String])] = {
    val rnd = new Random(seed)
    val ids = rnd.shuffle((0 until size).map(i => s"n$i-$seed"))
    val (rootIds, rest) = ids.splitAt(roots)
    val tree = rest.foldLeft(rootIds.map(_ -> Option.empty[String]).toVector) { (acc, id) =>
      acc :+ (id -> Some(acc(rnd.nextInt(acc.size))._1))
    }
    val cycle = Seq(s"c0-$seed" -> Some(s"c1-$seed"), s"c1-$seed" -> Some(s"c0-$seed"))
    val offCycle = (0 until 1 + rnd.nextInt(4)).foldLeft(cycle.toVector) { (acc, i) =>
      acc :+ (s"h$i-$seed" -> Some(acc(rnd.nextInt(acc.size))._1))
    }
    val dangling = (0 until 1 + rnd.nextInt(3)).flatMap { i =>
      Seq(s"d$i-$seed" -> Some(s"missing$i-$seed"), s"e$i-$seed" -> Some(s"d$i-$seed"))
    }
    rnd.shuffle(tree ++ offCycle ++ dangling)
  }

  test("property: connectBy equals a driver-side parent walk on seeded forests") {
    for (seed <- 1L to 4L) {
      val nodes = forest(seed, 20 + 10 * seed.toInt, 1 + seed.toInt % 3)
      checkAgainstWalk(s"seed $seed", nodes)
    }
  }

  test("property: no roots, empty input, and a 40-deep chain") {
    val noRoots = forest(9L, 12, 1).filter(_._2.nonEmpty)
    assert(parentWalk(noRoots).values.forall(_._1.isEmpty))
    checkAgainstWalk("no roots", noRoots)
    checkAgainstWalk("empty", Seq.empty)
    val chain = ("k0" -> None) +: (1 to 40).map(i => s"k$i" -> Some(s"k${i - 1}"))
    checkAgainstWalk("40-deep chain", chain)
    val deepest = parentWalk(chain)("k40")
    assert(deepest._2.contains(40) && deepest._3.get.split("/").length == 41)
  }

  test("output over a joined nodes frame survives self-union, self-join, and a second connectBy") {
    val ids = (0L until 60L).toDF("id")
    val parents = (0L until 60L).map(i => (i, if (i == 0) None else Some(i / 3))).toDF("pid", "parent")
    val cyc = Seq((100L, Some(101L)), (101L, Some(100L))).toDF("id", "parent")
    val nodes = ids.join(parents, col("id") === col("pid")).select("id", "parent").unionByName(cyc)
    checkRoutes("joined nodes", nodes,
      nodes.as[(Long, Option[Long])].collect().toSeq.map { case (i, p) => i.toString -> p.map(_.toString) },
      "local")
    for ((route, connect) <- routes("id", "parent")) {
      val out = connect(nodes)
      assert(out.count() == 62, route)

      assert(out.unionByName(out).count() == 124)
      assert(out.unionByName(out).distinct().count() == 62)

      val pairs = out.as("a").join(out.as("b"), col("a.root_id") === col("b.id"))
        .select(col("a.id"), col("b.depth").as("root_depth"))
      assert(pairs.count() == 60)
      assert(pairs.filter(col("root_depth") =!= 0).isEmpty)

      // each node re-hung directly under its root: a two-level forest,
      // orphans (NULL root) become roots of their own
      val again = connect(
        out.select(col("id"), when(col("depth") === 0, lit(null)).otherwise(col("root_id")).as("parent")))
      val byId = collectOut(again).toMap
      assert(byId.size == 62)
      assert(byId("0") == ((Some("0"), Some(0), Some("0"))))
      assert(byId("59") == ((Some("0"), Some(1), Some("0/59"))))
      assert(byId("100") == ((Some("100"), Some(0), Some("100"))))
    }
  }

  test("int, long and string ids take the local route with the barrier route's schema") {
    val forest = Seq("1" -> None, "2" -> Some("1"), "3" -> Some("2"), "4" -> Some("1"),
      "5" -> Some("6"), "6" -> Some("5"), "7" -> Some("99"), "8" -> Some("8"))
    val ints = forest.map { case (i, p) => (i.toInt, p.map(_.toInt)) }.toDF("id", "parent")
    checkRoutes("int ids", ints, forest, "local")
    checkRoutes("long ids", forest.map { case (i, p) => (i.toLong, p.map(_.toLong)) }
      .toDF("id", "parent"), forest, "local")
    checkRoutes("string ids", forest.toDF("id", "parent"), forest, "local")
    assert(Hierarchy.connectBy(ints, "id", "parent").schema.map(_.dataType.simpleString) ==
      Seq("int", "int", "int", "string"))
  }

  test("duplicate ids and a NULL id take the barrier route and match the parent walk") {
    // a duplicated leaf comes back once per input row; a NULL id never
    // matches as a parent, and its path is NULL
    val dup = Seq("a" -> None, "b" -> Some("a"), "c" -> Some("b"), "c" -> Some("b"), "d" -> Some("a"))
    checkRoutes("duplicate ids", dup.toDF("id", "parent"), dup, "barrier")
    // a duplicated inner node or root: its children come back once each
    val dupInner = Seq("a" -> None, "b" -> Some("a"), "b" -> Some("a"), "c" -> Some("b"))
    checkRoutes("a duplicated inner node", dupInner.toDF("id", "parent"), dupInner, "barrier")
    val dupRoot = Seq("r" -> None, "r" -> None, "s" -> Some("r"), "t" -> Some("s"))
    checkRoutes("a duplicated root", dupRoot.toDF("id", "parent"), dupRoot, "barrier")
    // the join plan of a frontier too big to broadcast
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      checkRoutes("a duplicated inner node, sort-merge join", dupInner.toDF("id", "parent"),
        dupInner, "barrier")
    }
    val nullId = Seq("r" -> None, "x" -> Some("r"), (null: String) -> Some("x"), "y" -> Some("x"))
    checkRoutes("a NULL id", nullId.toDF("id", "parent"), nullId, "barrier")
  }

  test("a parent typed apart from the id takes the barrier route and matches the parent walk") {
    val rows = Seq((1L, None: Option[Int]), (2L, Some(1)), (3L, Some(2)), (4L, Some(2)),
      (7L, Some(9)), (8L, Some(8)))
    checkRoutes("bigint ids, int parents", rows.toDF("id", "parent"),
      rows.map { case (i, p) => i.toString -> p.map(_.toString) }, "barrier")
  }

  test("a chain whose paths exceed the character budget takes the barrier route") {
    // three 1.5M-character ids: 9M path characters in all, over the
    // driver walk's budget of 2^23
    val id = (i: Int) => s"k$i-" + "x" * 1500000
    val chain = (id(0) -> None) +: (1 to 2).map(i => id(i) -> Some(id(i - 1)))
    checkRoutes("long-id chain", chain.toDF("id", "parent"), chain, "barrier")
  }

  test("the benchmark-shaped tree runs within its job budget") {
    // doc_id 0..1249 under doc_id/7: a single root, depth 4
    val nodes = spark.range(0, 1250).select(col("id").as("doc_id"),
      when(col("id") === 0, lit(null).cast("long")).otherwise(floor(col("id") / 7).cast("long")).as("parent"))
    // the local route: the probe, then a local relation; the barrier
    // loop: one barrier per level, the union of levels and the collect
    for (((route, connect), budget) <- routes("doc_id", "parent").zip(Seq(2, 9))) {
      var out: Seq[(Long, Int)] = Nil
      val jobs = jobsOf(s"connect-by-budget-$budget") {
        out = connect(nodes).select(col("doc_id"), col("depth")).as[(Long, Int)].collect().toSeq
      }
      info(s"$route: $jobs jobs")
      assert(out.size == 1250)
      assert(out.map(_._2).max == 4)
      assert(jobs <= budget, s"$route launched $jobs jobs, over its budget of $budget")
    }
    assert(Hierarchy.routed(nodes, "doc_id", "parent")._2 == "local")
  }
}
