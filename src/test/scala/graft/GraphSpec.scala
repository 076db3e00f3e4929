package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Randomized correctness check for the degree-oriented triangle
  * closure (operators.RelationalQueries.graphCounts): the oracle gate
  * proves cross-engine agreement on ONE graph (the sf co-purchase
  * graph); this proves the algorithm itself on many — seeded random
  * graphs plus the adversarial shapes (complete graph: all degrees
  * tie, orientation falls back to id order; star: maximal degree skew,
  * zero triangles; path: zero triangles, nonzero wedges; empty graph)
  * — against a brute-force reference. A wrong orientation tie-break
  * double-counts or drops triangles on exactly these inputs.
  */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  /** Brute-force reference counts over a canonical a<b edge set. */
  private def reference(edges: Set[(Long, Long)]): (Long, Long, Long, Long) = {
    val verts = edges.flatMap(e => Seq(e._1, e._2))
    val wedges = (for {
      e1 <- edges.iterator; e2 <- edges.iterator if e1._2 == e2._1
    } yield 1L).sum
    val vs = verts.toSeq.sorted
    val tris = (for {
      i <- vs.indices.iterator; j <- (i + 1 until vs.size).iterator
      if edges((vs(i), vs(j)))
      k <- (j + 1 until vs.size).iterator
      if edges((vs(j), vs(k))) && edges((vs(i), vs(k)))
    } yield 1L).sum
    (verts.size.toLong, edges.size.toLong, wedges, tris)
  }

  private def check(edges: Set[(Long, Long)], label: String): Unit = {
    import spark.implicits._
    val df =
      if (edges.isEmpty) spark.emptyDataset[(Long, Long)].toDF("a", "b")
      else edges.toSeq.toDF("a", "b")
    val row = operators.RelationalQueries.graphCounts(df).head()
    val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(got == reference(edges), s"$label: got $got, edges=$edges")
  }

  test("adversarial shapes: empty, single edge, path, star, complete K6") {
    check(Set.empty, "empty")
    check(Set((1L, 2L)), "single edge")
    check((1L to 7L).sliding(2).map(p => (p(0), p(1))).toSet, "path")
    check((2L to 9L).map(v => (1L, v)).toSet, "star")
    val k6 = for {
      i <- 1L to 6L; j <- (i + 1) to 6L
    } yield (i, j)
    check(k6.toSet, "complete K6")
  }

  test("seeded random graphs match brute force") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val n = 3 + rnd.nextInt(10)
      val p = 0.15 + rnd.nextDouble() * 0.6
      val edges = (for {
        i <- 1L to n; j <- (i + 1) to n if rnd.nextDouble() < p
      } yield (i, j)).toSet
      check(edges, s"trial $trial (n=$n, p=$p)")
    }
  }

  test("basket pair exprs match brute force on random, empty, singleton, and large baskets") {
    // the slice/transform lambdas behind coPurchaseEdges and
    // q_assoc_rules: unordered emits each i<j pair once, directed
    // every ordered pair with x != y; empty and singleton baskets
    // emit nothing, a 40-item basket emits all C(40,2)=780 / 1560.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val baskets: Seq[Seq[Long]] =
      Seq(Seq.empty[Long], Seq(5L), (1L to 40L)) ++
        (1 to 25).map(_ => rnd.shuffle((1L to 50L).toList).take(1 + rnd.nextInt(8)).sorted.toSeq)
    val df = baskets.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "ps")
    def run(e: String): Map[Long, Seq[(Long, Long)]] =
      df.select(col("id"), explode(expr(e)).as("e"))
        .select(col("id"), col("e.a"), col("e.b")).collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted).toMap
    val un = run(operators.RelationalQueries.unorderedPairsExpr("ps"))
    val di = run(operators.RelationalQueries.directedPairsExpr("ps"))
    // the round-21 streaming Generator forms must emit the exact same
    // pair multisets as the lambda chains they replace
    import org.apache.spark.sql.graft.ColumnBridge
    def runGen(directed: Boolean): Map[Long, Seq[(Long, Long)]] =
      df.select(col("id"), ColumnBridge.column(gen.PairsGenExpr(
          ColumnBridge.expression(col("ps")), directed)).as(Seq("a", "b"))).collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted).toMap
    val unGen = runGen(directed = false)
    val diGen = runGen(directed = true)
    baskets.zipWithIndex.foreach { case (b, i) =>
      val expUn = (for { x <- b.indices; y <- x + 1 until b.size } yield (b(x), b(y))).sorted
      val expDi = (for { x <- b; y <- b if x != y } yield (x, y)).sorted
      assert(un.getOrElse(i.toLong, Seq.empty) == expUn, s"unordered basket $i: $b")
      assert(di.getOrElse(i.toLong, Seq.empty) == expDi, s"directed basket $i: $b")
      assert(unGen.getOrElse(i.toLong, Seq.empty) == expUn, s"generator unordered basket $i: $b")
      assert(diGen.getOrElse(i.toLong, Seq.empty) == expDi, s"generator directed basket $i: $b")
    }
  }

  test("coPurchaseEdges equals the distinct + self-join derivation on sf0.001") {
    // the round-10 basket derivation (collect_set + row-local pair
    // explode) must produce the exact edge set of the shape it
    // replaced — which is also what every graph oracle's SQL still
    // declares (items x JOIN items y ON x.o = y.o AND x.p < y.p).
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val oldEdges = items.as("x").join(items.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select("a", "b")
    val newEdges = operators.RelationalQueries.coPurchaseEdges(spark, sf)
    val old = oldEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val neu = newEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(neu == old,
      s"basket derivation diverged: only-old=${(old -- neu).take(5)} only-new=${(neu -- old).take(5)}")
    assert(old.nonEmpty, "sf0.001 co-purchase graph unexpectedly empty")
  }

  test("the graph bodies work on an arbitrary canonical edge list, not just co-purchase") {
    // graphCounts, degdistOf, pagerankOf and kcoreOf take any (a < b)
    // edge DataFrame, not just co-purchase.
    // A 5-vertex graph with one triangle (1-2-3), a tail (3-4), and an
    // isolated edge (4-5 would attach; use 0-4): verify the
    // hand-countable invariants so the bodies are pinned beyond the
    // gated derivation they ship with.
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (0L, 4L))
      .toDF("a", "b")
    val tri = operators.RelationalQueries.graphCounts(edges).collect().head
    assert(tri.getLong(tri.fieldIndex("n_vertices")) == 5)
    assert(tri.getLong(tri.fieldIndex("n_edges")) == 5)
    assert(tri.getLong(tri.fieldIndex("n_triangles")) == 1)
    val deg = operators.RelationalQueries.degdistOf(edges).collect()
    assert(deg.map(_.getLong(deg.head.fieldIndex("n_vertices"))).sum == 5)
    // pagerank ranks all 5 vertices; vertex 3 (degree 3) outranks
    // vertex 0 (degree 1)
    val pr = operators.RelationalQueries.pagerankOf(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pr.size == 5)
    assert(pr(3L) > pr(0L))
    // 2-core peeling: round 1 keeps exactly the triangle (vertices
    // 1,2,3 have degree >= 2 only after 0,4's removal settles)
    val kc = operators.RelationalQueries.kcoreOf(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kc.last == (3L, 3L, 3L), s"expected the triangle as the 2-core, got ${kc.toSeq}")
  }
}
