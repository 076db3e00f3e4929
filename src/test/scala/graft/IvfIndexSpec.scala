package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-level IVF-over-centroids assignment (graft.functions.IvfIndex)
  * — the round-15 promotion of the measured large-k path into
  * the product surface: routing correctness against the flat argmax,
  * probe-constraint honesty (an indexed cell is always one of the
  * vector's probed groups), and bit-stability of the large-k fit across
  * partition layouts (the decimal-sum rule of SCALE.md).
  */
class IvfIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  private def normD(c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.gen.VecNormExpr(ColumnBridge.expression(c)))
  }

  private def dotD(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.gen.DotProductExpr(
      ColumnBridge.expression(x), ColumnBridge.expression(y)))
  }

  private def corpus: DataFrame = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
    .filter(col("nrm") > 0)

  private def cents32: DataFrame = corpus
    .filter(col("vec_id") >= 10 && col("vec_id") < 42)
    .select((col("vec_id") - 10).as("cid"),
      col("embedding").as("cemb"), col("nrm").as("cnrm"))

  /** Exact flat argmax-cosine assignment (the reference the index
    * approximates): highest cosine, ties to the lowest cid.
    */
  private def flatCells: DataFrame =
    corpus.crossJoin(broadcast(cents32))
      .select(col("vec_id"),
        struct((dotD(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm"))).as("cscore"),
          (-col("cid")).as("ncid")).as("cand"))
      .groupBy("vec_id").agg(max(col("cand")).as("best"))
      .select(col("vec_id"), (-col("best").getField("ncid")).as("cf"))

  test("every vector is assigned exactly one cell, and that cell is in a probed group") {
    val assigned = functions.IvfIndex.assignIndexed(corpus, cents32, groupSize = 8, nprobe = 2)
    val n = corpus.count()
    assert(assigned.count() == n)
    assert(assigned.select("vec_id").distinct().count() == n)
    val cells = assigned.select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < 32), cells.toSeq)
    // probe-constraint honesty: recompute stage-1's top-2 groups
    // independently (rank group means by cosine) and check membership
    val gma = functions.IvfIndex.groupMeansArr(cents32, 8)
    val probes = corpus.crossJoin(gma)
      .select(col("vec_id"),
        slice(array_sort(transform(col("gma"), g => struct(
          (-(dotD(col("embedding"), g.getField("gemb")) / (col("nrm") * g.getField("gnrm")))).as("ns"),
          g.getField("gid").as("gid")))), 1, 2).as("top"))
      .select(col("vec_id"), expr("transform(top, t -> t.gid)").as("gids"))
    val offside = assigned.join(probes, "vec_id")
      .filter(!array_contains(col("gids"), expr("cell div 8"))).count()
    assert(offside == 0, s"$offside vectors assigned outside their probed groups")
  }

  test("indexed assignment agrees with the flat argmax except where routing diverges") {
    // agreement is the geometry check; disagreement is bounded, not
    // zero — that IS the IVF approximation. This corpus is the WORST
    // case for mean-based routing (near-orthogonal random vectors, max
    // pairwise cosine ≈ 0.51, so group means summarize weakly — ~75%
    // agreement measured); real near-dup corpora route far better
    // (the clustered replica measured in SCALE.md §"Semantic dedup").
    // The exactness check below (nprobe = g) is the hard correctness
    // bound.
    val assigned = functions.IvfIndex.assignIndexed(corpus, cents32, groupSize = 8, nprobe = 2)
    val joined = assigned.select(col("vec_id"), col("cell")).join(flatCells, "vec_id")
    val n = joined.count()
    val agree = joined.filter(col("cell") === col("cf")).count()
    assert(agree >= (n * 0.6).toLong, s"only $agree/$n agree with flat argmax")
    // and with nprobe = number of groups the index IS the flat argmax
    val all = functions.IvfIndex.assignIndexed(corpus, cents32, groupSize = 8, nprobe = 4)
      .select(col("vec_id"), col("cell")).join(flatCells, "vec_id")
    assert(all.filter(col("cell") =!= col("cf")).count() == 0,
      "nprobe=g must reduce to exact flat argmax")
  }

  test("large-k fit is bit-stable across partition layouts and returns k live centroids") {
    val in = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    def fitWith(parts: Int): (Array[(Long, Seq[Float], Double)], Array[Double]) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val (table, obj) = functions.IvfIndex.fit(in.repartition(parts, col("vec_id")),
          "vec_id", "embedding", k = 16, iters = 2, groupSize = 8, nprobe = 2)
        (table.orderBy("cid").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))), obj)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val (a, objA) = fitWith(4)
    val (b, objB) = fitWith(13)
    assert(a.length == 16)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    assert(a.zip(b).forall { case ((_, va, na), (_, vb, nb)) => va == vb && na == nb },
      "fit centroids must be bit-identical across partition layouts")
    // decimal-summed objective is bit-stable too, and non-decreasing —
    // which is only GUARANTEED because this fit's assignment is EXACT:
    // k=16/groupSize=8 gives g=2 groups and nprobe=2 probes them all,
    // so the per-iteration assignment IS the flat argmax and classic
    // spherical-Lloyd monotonicity applies (round-16 ADVICE: under
    // nprobe < g the routing approximation can re-assign a vector to a
    // strictly worse cell and break monotonicity by more than the
    // float32-quantization slack — see the third slack source named in
    // IvfIndex.fit's doc). The 1e-6 tolerance covers the per-iteration
    // float32 centroid quantization and empty-cell carryover only.
    assert(objA.toSeq == objB.toSeq, "objective must be bit-identical across layouts")
    objA.toSeq.sliding(2).foreach {
      case Seq(x, y) => assert(y >= x - 1e-6, s"objective decreased: ${objA.toSeq}")
      case _ =>
    }
    // the fit moved off the seed vectors
    val seed = in.orderBy("vec_id").limit(16).collect().map(_.getSeq[Float](1))
    assert(a.map(_._2).zip(seed).exists { case (c, s) => c != s })
  }

  test("a dim mismatch fails fast instead of silently assigning nothing") {
    // round-16 ADVICE closure: with dim larger than the true embedding
    // length, every group mean used to null out and the assignment
    // returned ZERO rows silently; groupMeansArr now asserts the
    // centroid embedding length in-plan
    val ex = intercept[Exception] {
      functions.IvfIndex.assignIndexed(corpus, cents32,
        groupSize = 8, nprobe = 2, dim = 128, kHint = 32).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("centroid embedding length")),
      s"expected the dim fail-fast, got: ${messages(ex)}")
  }

  test("forced stage-2 delegation: shuffle-join regime is engaged and result-identical") {
    // the round-16 size gate (VERDICT r15 #1): past BroadcastMaxCids the
    // stage-2 centroid join must run as a cell-keyed shuffle-hash join
    // instead of a per-task broadcast copy. Force the regime with a
    // 1-cid bound (the r13 blocked-dedup forced-delegation precedent)
    // and pin BOTH that the plan actually switched and that the
    // assignment is row-identical — the gate moves the exchange
    // strategy, never the result.
    val viaBroadcast = functions.IvfIndex
      .assignIndexed(corpus, cents32, groupSize = 8, nprobe = 2, kHint = 32)
    val viaShuffle = functions.IvfIndex
      .assignIndexed(corpus, cents32, groupSize = 8, nprobe = 2, kHint = 32,
        broadcastMaxCids = 1L)
    val planB = viaBroadcast.queryExecution.executedPlan.toString
    val planS = viaShuffle.queryExecution.executedPlan.toString
    assert(planS.contains("ShuffledHashJoin"),
      s"delegated plan must shuffle-hash-join the centroid table:\n$planS")
    assert(!planB.contains("ShuffledHashJoin"),
      "broadcast regime must not shuffle the centroid table")
    val diff = viaBroadcast.select(col("vec_id"), col("cell"))
      .join(viaShuffle.select(col("vec_id"), col("cell").as("cs")), Seq("vec_id"))
      .filter(col("cell") =!= col("cs")).count()
    assert(diff == 0, s"$diff vectors assigned differently across join regimes")
    assert(viaShuffle.count() == corpus.count())
  }

  test("decimal vs ordered-double member means: within ONE float ulp, margins dominate") {
    // the q_dedup_semantic_indexed oracle mirrors fit's member means as
    // vec_id-ordered DOUBLE folds where the engine sums DECIMALs.
    // MEASURED equivalence (this test originally asserted bit-equality
    // and FAILED — an honest find): embedding member means sit near
    // zero, so the ~1e-13 absolute discrepancy between the two folds
    // (per-term 1e-15 decimal rounding vs double accumulation error)
    // is only ~100–1000× below the float32 grid spacing at those
    // magnitudes, and ~1% of (cell, dim) coordinates round to ADJACENT
    // floats (22/2048 on this corpus). The gate is still sound because
    // the discrepancy is bounded at ONE float ulp — a ≤6e-8-relative
    // perturbation of one coordinate of a 64-dim centroid moves
    // cosines by ~1e-10, versus ~1e-2 assignment margins and a 0.45
    // threshold — which is what this test pins: every coordinate
    // within one ulp, so the integer pair output cannot flip unless a
    // margin collapses ~8 orders of magnitude.
    val assigned = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val dec = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("cell", "d")
      .agg((org.apache.spark.sql.functions.sum(col("x").cast("decimal(28,15)"))
        / count(lit(1))).cast("double").cast("float").as("dm"))
    val ord = assigned.groupBy("cell")
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding")))).as("membs"))
      .select(col("cell"), posexplode(expr(
        """transform(sequence(0, 63), d ->
          |  cast(aggregate(membs, 0D, (a, m) -> a + cast(m.embedding[d] as double))
          |    / cast(size(membs) as double) as float))""".stripMargin)).as(Seq("d", "om")))
    val joined = dec.join(ord, Seq("cell", "d"))
    val rows = joined.collect()
    assert(rows.length == 32 * 64)
    // sign-magnitude rank so adjacency works across the zero boundary
    // (+ε and -ε are 2 ranks apart, not 2³¹)
    def rank(f: Float): Long = {
      val b = java.lang.Float.floatToIntBits(f)
      if (b < 0) Int.MinValue.toLong - b.toLong else b.toLong
    }
    val ulpsApart = rows.map(r => math.abs(rank(r.getFloat(2)) - rank(r.getFloat(3))))
    val overOneUlp = ulpsApart.count(_ > 1)
    assert(overOneUlp == 0,
      s"$overOneUlp (cell, dim) means differ by >1 float ulp — margins no longer dominate")
    val adjacent = ulpsApart.count(_ == 1)
    assert(adjacent < rows.length / 20,
      s"$adjacent/${rows.length} adjacent-float means — more than the ~1% cancellation regime")
  }

  test("empty-cell carryover and dead-centroid drop agree across both fit regimes") {
    // a zero-norm vector among the k smallest ids becomes a DEAD seed:
    // it is excluded from every per-iteration centroid table (cnrm > 0),
    // so its cell never receives members — the carryover branch keeps
    // its (zero) coordinates through every iteration and the final
    // table drops it. Both the driver-collect and distributed paths
    // must walk that branch identically. The corpus is synthetic so the
    // dead cell is GUARANTEED (the real-corpus tests can't promise an
    // empty cell: every live seed captures at least itself).
    import spark.implicits._
    val rows = (0 until 12).map { i =>
      val v = if (i == 1) Seq.fill(64)(0f)
        else (0 until 64).map(d => ((i * 37 + d * 11) % 23 - 11) / 7.0f)
      (i.toLong, v)
    }
    val in = rows.toDF("vec_id", "embedding")
    val (td, objD) = functions.IvfIndex.fit(in, "vec_id", "embedding",
      k = 4, iters = 2, groupSize = 2, nprobe = 1)
    val (tx, objX) = functions.IvfIndex.fit(in, "vec_id", "embedding",
      k = 4, iters = 2, groupSize = 2, nprobe = 1, collectMaxK = 0)
    val rd = td.orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    val rx = tx.orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    assert(rd.length == 3, s"dead seed must drop: ${rd.map(_._1).toSeq}")
    assert(!rd.map(_._1).contains(1L), "cid 1 (the zero seed) must not survive")
    assert(rd.toSeq == rx.toSeq, "carryover/drop must be bit-identical across regimes")
    assert(objD.toSeq == objX.toSeq)
  }

  test("searchTopK at full probe is EXACT brute-force top-k, through the heap operator") {
    // nprobe = g and probeCells = k make every corpus member a
    // candidate for every query, so the search must reproduce exact
    // brute-force cosine top-k bit for bit (same codegen folds, same
    // (cos DESC, cand_id ASC) total order) — the searchTopK analogue of
    // assignIndexed's nprobe=g exactness pin. The ranking must run
    // through the bounded-heap TopKPerGroup operator, not a window sort.
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    val got = functions.IvfIndex.searchTopK(queries, inverted, cents32,
      topK = 5, groupSize = 8, nprobe = 4, probeCells = 32, kHint = 32)
    assert(got.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
      "search ranking must engage the bounded-heap operator")
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    val exact = broadcast(q).crossJoin(corpus)
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (dotD(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
    val gotRows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4))
    val exactRows = exact.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4))
    assert(gotRows.length == 50)
    assert(gotRows.toSeq == exactRows.toSeq,
      "full-probe search must equal exact brute-force top-k")
    // self-match contract: each query ranks itself first at cos = 1
    assert(gotRows.filter(t => t._4 == 1).forall(t => t._1 == t._2))
  }

  test("searchTopK excludeSelf drops the self-hit BEFORE ranking, not after") {
    // the recall-honesty form (round-16 ADVICE) and the q_sim_ivf gate
    // form: at full probe, excludeSelf must equal brute-force top-k
    // over corpus-minus-self bit for bit — rank 1 is a real neighbor
    // and the candidate the self-hit would have displaced re-enters at
    // rank topK (a post-hoc filter would instead emit topK-1 rows).
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    val got = functions.IvfIndex.searchTopK(queries, inverted, cents32,
      topK = 5, groupSize = 8, nprobe = 4, probeCells = 32, kHint = 32,
      excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
    val exact = broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("nrm").as("qn")))
      .crossJoin(corpus)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (dotD(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(got.length == 50, s"each query must still fill all 5 ranks, got ${got.length}")
    assert(got.forall(t => t._1 != t._2), "no self-matches may survive")
    assert(got.toSeq == exact.toSeq,
      "excludeSelf full-probe search must equal exact top-k over corpus-minus-self")
  }

  test("searchTopK candidates come only from the query's probed cells") {
    // probe-constraint honesty for the search path: recompute each
    // query's top-probeCells cells INDEPENDENTLY (window ranks instead
    // of the module's collect_list fold) and check every returned
    // candidate's inverted-file cell is among them.
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    val got = functions.IvfIndex.searchTopK(queries, inverted, cents32,
      topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
    val gma = functions.IvfIndex.groupMeansArr(cents32, 8)
    val topGroups = queries.crossJoin(gma)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"),
        explode(slice(array_sort(transform(col("gma"), g => struct(
          (-(dotD(col("embedding"), g.getField("gemb")) / (col("nrm") * g.getField("gnrm")))).as("ns"),
          g.getField("gid").as("gid")))), 1, 2)).as("p"))
      .select(col("q_id"), col("qe"), col("qn"), col("p").getField("gid").as("gid"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cs").desc, col("cid"))
    val probedCells = topGroups
      .join(cents32.withColumn("gid", expr("cid div 8")), Seq("gid"))
      .select(col("q_id"), col("cid"),
        (dotD(col("qe"), col("cemb")) / (col("qn") * col("cnrm"))).as("cs"))
      .withColumn("cr", row_number().over(wc)).filter(col("cr") <= 2)
      .groupBy("q_id").agg(collect_set(col("cid")).as("okCells"))
    val offside = got
      .join(inverted.select(col("vec_id").as("cand_id"), col("cell")), Seq("cand_id"))
      .join(probedCells, Seq("q_id"))
      .filter(!array_contains(col("okCells"), col("cell"))).count()
    assert(offside == 0, s"$offside candidates came from unprobed cells")
    // rank contract: per query, ranks are dense from 1 and cosines
    // non-increasing in rank
    val byQ = got.collect().map(r =>
      (r.getLong(0), r.getInt(3), r.getDouble(2))).groupBy(_._1)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq)
      sorted.map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a >= b)
        case _ =>
      }
    }
  }

  test("searchTopK full-probe exactness holds on odd shapes: dim=5, ragged groups, topK > corpus") {
    // the real-corpus exactness test runs the friendly geometry
    // (dim=64, k divisible by groupSize, topK small); this one pins the
    // edges — an odd dim threaded through every stage, a ragged last
    // group (k=7, groupSize=3 ⇒ groups of 3+3+1), probeCells = k,
    // topK > corpus (heaps must emit ALL candidates, ranks dense to n),
    // verified against a pure-Scala brute force using the same
    // ascending double folds as VecMath (bit-equality expected).
    import spark.implicits._
    val dim = 5
    val rows = (0 until 40).map { i =>
      (i.toLong, (0 until dim).map(d => ((i * 13 + d * 7) % 19 - 9) / 4.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val e = df.select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val cents = e.filter(col("vec_id") < 7)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
    val inverted = functions.IvfIndex.assignIndexed(e, cents,
      groupSize = 3, nprobe = 3, dim = dim, kHint = 7)
    val queries = e.filter(col("vec_id") % 9 === 0) // 0, 9, 18, 27, 36
    val got = functions.IvfIndex.searchTopK(queries, inverted, cents,
      topK = 50, groupSize = 3, nprobe = 3, probeCells = 7, dim = dim, kHint = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def nrm(a: Seq[Float]): Double = math.sqrt(dot(a, a))
    val expected = rows.filter(_._1 % 9 == 0).flatMap { case (qid, qv) =>
      rows.map { case (cid, cv) => (qid, cid, dot(qv, cv) / (nrm(qv) * nrm(cv))) }
        .sortBy { case (_, cid, cos) => (-cos, cid) }
        .zipWithIndex.map { case ((q, c, cos), i) => (q, c, cos, i + 1) }
    }.sortBy(t => (t._1, t._4))
    assert(got.length == 5 * 40, s"expected every candidate ranked, got ${got.length}")
    assert(got.toSeq == expected.toSeq,
      "full-probe search on the odd-shape corpus must equal the Scala brute force bit for bit")
  }

  test("searchTopK is identical across join regimes and partition layouts") {
    // the size gate moves exchange strategies, never rows; and the heap
    // merge is deterministic under the (cos DESC, cand_id ASC) total
    // order, so re-layout of the inverted file cannot move results either.
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    def run(inv: DataFrame, bMax: Long) =
      functions.IvfIndex.searchTopK(queries, inv, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32,
        broadcastMaxCids = bMax)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val base = run(inverted, functions.IvfIndex.BroadcastMaxCids)
    assert(base == run(inverted, 1L),
      "forced centroid shuffle-join regime moved search results")
    assert(base == run(inverted.repartition(13, col("vec_id")),
      functions.IvfIndex.BroadcastMaxCids),
      "inverted-file re-layout moved search results")
  }

  test("forced distributed fit: no driver collect of the centroid matrix, bit-identical") {
    // collectMaxK = 0 forces the distributed update at k=16 — the
    // regime k ∝ n reaches at 100 TB (k ~ 10⁵–10⁶, where per-iteration
    // k×dim driver collects are the bottleneck the gate removes). The
    // gate must not move a single bit: same centroid table, same
    // objective series as the driver path.
    val in = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val (td, objD) = functions.IvfIndex.fit(in, "vec_id", "embedding",
      k = 16, iters = 2, groupSize = 8, nprobe = 2)
    val (tx, objX) = functions.IvfIndex.fit(in, "vec_id", "embedding",
      k = 16, iters = 2, groupSize = 8, nprobe = 2, collectMaxK = 0)
    val rd = td.orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    val rx = tx.orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    assert(rd.length == 16 && rx.length == 16)
    assert(rd.toSeq == rx.toSeq,
      "distributed fit must be bit-identical to the driver-path fit")
    assert(objD.toSeq == objX.toSeq,
      s"objective series diverged: driver=${objD.toSeq} distributed=${objX.toSeq}")
  }

  test("routeScores at full probe equals the exact best-centroid cosine") {
    // the drift monitor's raw signal (round 19): with nprobe covering
    // every group the routing score must be EXACTLY the best cosine over
    // all centroids (same codegen folds — bit equality); with a partial
    // probe it can only be ≤ that (probing scores a subset).
    val queries = corpus.filter(col("vec_id") < 10)
    val got = functions.IvfIndex.routeScores(queries, cents32,
      groupSize = 8, nprobe = 4, kHint = 32)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val exact = queries.crossJoin(broadcast(cents32))
      .select(col("vec_id"),
        (dotD(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm"))).as("s"))
      .groupBy("vec_id").agg(max(col("s")).as("m"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.length == 10)
    assert(got.toSeq == exact.toSeq,
      "full-probe route score must equal the exact best-centroid cosine bit for bit")
    val partial = functions.IvfIndex.routeScores(queries, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    exact.foreach { case (q, m) =>
      assert(partial(q) <= m, s"partial-probe score exceeded the exact best for q=$q")
    }
  }

  test("driftStats separates OOD mixes monotonically and stays quiet in-distribution") {
    // the detector contract on a synthetic clustered fixture with KNOWN
    // geometry: 8 orthogonal block centroids, base members = centroid +
    // tiny in-block noise (route score ≈ 1), OOD vectors = negated
    // blocks (best possible probe cosine exactly 0). The floor is
    // calibrated on one half of the base population and judged on the
    // other, so est_f ≈ 0 in-distribution is a held-out property, not a
    // tautology; OOD mixes at 50% and 100% must read est_f ≈ 0.5 / 1.0
    // and the three mixes must order monotonically.
    import spark.implicits._
    val dim = 64
    def toDf(rows: Seq[(Long, Seq[Float])]): DataFrame =
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
        .filter(col("nrm") > 0)
    val baseRows = for (c <- 0 until 8; m <- 0 until 20) yield {
      val v = (0 until dim).map { d =>
        if (d / 8 == c) 1f + ((c * 31 + m * 7 + d) % 5 - 2) * 0.02f else 0f
      }
      ((c * 100 + m).toLong, v.toSeq)
    }
    val oodRows = (0 until 40).map { i =>
      val blk = i % 8
      ((1000 + i).toLong, (0 until dim).map(d => if (d / 8 == blk) -1f else 0f).toSeq)
    }
    val base = toDf(baseRows)
    val cents = toDf((0 until 8).map(i =>
      (i.toLong, (0 until dim).map(d => if (d / 8 == i) 1f else 0f).toSeq)))
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
    val floor = functions.IvfIndex.routeScores(
      base.filter(col("vec_id") % 2 === 0), cents,
      groupSize = 2, nprobe = 2, kHint = 8)
      .agg(percentile_approx(col("route_score"), lit(0.10), lit(100000)))
      .head().getDouble(0)
    assert(floor > 0.9, s"in-block members must route near 1, floor=$floor")
    val inq = base.filter(col("vec_id") % 2 === 1) // held-out 80
    val ood = toDf(oodRows)
    def statsOf(q: DataFrame): (Double, Double) = {
      val r = functions.IvfIndex.driftStats(q, cents, floor,
        calibQ = 0.10, groupSize = 2, nprobe = 2, kHint = 8).head()
      (r.getAs[Double]("below_frac"), r.getAs[Double]("est_f"))
    }
    val (_, f0) = statsOf(inq)
    val (_, f50) = statsOf(inq.filter(col("vec_id") % 4 === 1).unionAll(ood))
    val (b100, f100) = statsOf(ood)
    assert(f0 < 0.25, s"in-distribution est_f must read ≈ 0, got $f0")
    assert(b100 == 1.0 && f100 == 1.0,
      s"pure-OOD mix must read below_frac = est_f = 1, got $b100/$f100")
    assert(math.abs(f50 - 0.5) < 0.2, s"50% mix must read est_f ≈ 0.5, got $f50")
    assert(f0 < f50 && f50 < f100, "est_f must order monotonically with the OOD share")
  }

  test("driftStats on an empty batch reports n_queries = 0 with null est_f, not a healthy 0.0") {
    // round-19 ADVICE: greatest(0.0, null) used to make an EMPTY batch
    // read est_f = 0.0 — a monitor silently saying "no drift" when an
    // upstream bug feeds it zero queries. The degenerate case must be
    // distinguishable from healthy.
    val empty = corpus.filter(col("vec_id") < 0)
    val r = functions.IvfIndex.driftStats(empty, cents32, floor = 0.5,
      calibQ = 0.10, kHint = 32).head()
    assert(r.getAs[Long]("n_queries") == 0L)
    assert(r.isNullAt(r.fieldIndex("est_f")),
      s"empty-batch est_f must be null, got ${r.getAs[Any]("est_f")}")
    assert(r.isNullAt(r.fieldIndex("below_frac")),
      "empty-batch below_frac must be null")
    // and a non-empty batch still reads a concrete est_f
    val ok = functions.IvfIndex.driftStats(corpus.filter(col("vec_id") < 10),
      cents32, floor = 0.5, calibQ = 0.10, kHint = 32).head()
    assert(ok.getAs[Long]("n_queries") == 10L)
    assert(!ok.isNullAt(ok.fieldIndex("est_f")))
  }
}
