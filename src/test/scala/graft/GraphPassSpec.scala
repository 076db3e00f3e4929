package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The derive-once graph pass (graft.functions.GraphPass) — the round-16
  * promotion of the measured shared-edge recipe into product
  * surface: every analysis must be RESULT-IDENTICAL to its standalone
  * gated query (which derives its own edge table), and the pass must
  * derive the edge table exactly once.
  */
class GraphPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.01"

  test("every pass analysis is result-identical to its standalone gated query") {
    val pass = functions.GraphPass.coPurchase(spark, sf)
    pass.all.foreach { case (name, df) =>
      val shared = df.collect().map(_.toSeq).sortBy(_.mkString("|"))
      val own = SparkEntry.queries(name)(spark, sf).collect()
        .map(_.toSeq).sortBy(_.mkString("|"))
      assert(shared.length == own.length,
        s"$name: ${shared.length} rows shared vs ${own.length} standalone")
      assert(shared.toSeq == own.toSeq, s"$name diverged from the gated query")
    }
  }

  test("GraphPass.apply works on an arbitrary canonical edge list, not just co-purchase") {
    // the API contract: any (a < b) edge DataFrame drives the five
    // analyses. A 5-vertex graph with one triangle (1-2-3), a tail
    // (3-4), and an isolated edge (4-5 would attach; use 0-4): verify
    // the hand-countable invariants so the pass is pinned beyond the
    // gated derivation it ships with.
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (0L, 4L))
      .toDF("a", "b")
    val pass = functions.GraphPass(edges)
    val tri = pass.triangles.collect().head
    assert(tri.getLong(tri.fieldIndex("n_vertices")) == 5)
    assert(tri.getLong(tri.fieldIndex("n_edges")) == 5)
    assert(tri.getLong(tri.fieldIndex("n_triangles")) == 1)
    val deg = pass.degdist.collect()
    assert(deg.map(_.getLong(deg.head.fieldIndex("n_vertices"))).sum == 5)
    // pagerank ranks all 5 vertices; vertex 3 (degree 3) outranks
    // vertex 0 (degree 1)
    val pr = pass.pagerank.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pr.size == 5)
    assert(pr(3L) > pr(0L))
    // 2-core peeling: round 1 keeps exactly the triangle (vertices
    // 1,2,3 have degree >= 2 only after 0,4's removal settles)
    val kc = pass.kcore.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kc.last == (3L, 3L, 3L), s"expected the triangle as the 2-core, got ${kc.toSeq}")
  }

  test("the pass materializes the edge table eagerly, exactly once") {
    // construction must leave checkpointed blocks behind (the eager
    // Checkpoint), and running two analyses must not grow the EDGE
    // table's storage again (they read the same materialized RDD —
    // graphCounts/kcoreOf add their OWN internal checkpoints, so pin
    // the edge RDD's identity, not the global block count)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val pass = functions.GraphPass.coPurchase(spark, sf)
    val afterBuild = spark.sparkContext.getPersistentRDDs.keys.toSet
    assert(afterBuild.nonEmpty, "eager checkpoint must materialize at construction")
    pass.degdist.count()
    pass.pagerank.count()
    // the originally-materialized edge blocks are still the ones in use
    val afterRuns = spark.sparkContext.getPersistentRDDs.keys.toSet
    assert(afterBuild.subsetOf(afterRuns),
      "analyses must reuse the pass's materialized edge table, not rebuild it")
  }

  test("release under a RELIABLE checkpoint dir deletes the pass's checkpoint files") {
    // the round-16 verdict gap: on a long-running cluster session
    // (checkpoint dir set, reliable checkpoint() taken) release()'s
    // unpersist is a documented no-op and Spark never deletes checkpoint
    // files on its own unless the GC-driven cleaner conf is set — so
    // release must delete the pass's own rdd-<id> directory itself, and
    // must NOT touch other checkpoints living in the same dir.
    val sc = spark.sparkContext
    val prev = org.apache.spark.sql.graft.CheckpointDirBridge.get(sc)
    val ckptRoot = java.nio.file.Files.createTempDirectory("graphpass_ckpt").toFile
    try {
      sc.setCheckpointDir(ckptRoot.getAbsolutePath)
      // a bystander reliable checkpoint in the same dir must survive
      val bystander = Checkpoint(spark.read.parquet(s"$sf/region.parquet"))
      val bystanderFile = bystander.queryExecution.analyzed.collectLeaves()
        .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getCheckpointFile }.flatten
      assert(bystanderFile.isDefined, "bystander must be reliably checkpointed")
      val pass = functions.GraphPass.coPurchase(spark, sf)
      val passFile = pass.edges.queryExecution.analyzed.collectLeaves()
        .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getCheckpointFile }.flatten
      assert(passFile.isDefined, "pass edges must be reliably checkpointed under a dir")
      assert(new java.io.File(new java.net.URI(passFile.get)).exists())
      pass.release(blocking = true)
      assert(!new java.io.File(new java.net.URI(passFile.get)).exists(),
        s"release must delete the pass's checkpoint files: ${passFile.get}")
      assert(new java.io.File(new java.net.URI(bystanderFile.get)).exists(),
        "release must not touch other checkpoints in the shared dir")
    } finally {
      org.apache.spark.sql.graft.CheckpointDirBridge.set(sc, prev)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(ckptRoot)
    }
  }

  test("release drops exactly the pass's edge blocks") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val pass = functions.GraphPass.coPurchase(spark, sf)
    val built = spark.sparkContext.getPersistentRDDs.keys.toSet
    assert(built.nonEmpty)
    // an unrelated persisted table must survive the pass's release
    val bystander = spark.read.parquet(s"$sf/region.parquet").cache()
    bystander.count()
    pass.release(blocking = true)
    val after = spark.sparkContext.getPersistentRDDs.keys.toSet
    assert(built.intersect(after).isEmpty,
      s"release must unpersist the pass's edge blocks, still present: ${built.intersect(after)}")
    assert(after.nonEmpty, "release must not touch unrelated persisted data")
    bystander.unpersist(blocking = true)
  }
}
