package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-level IVF-over-centroids assignment (graft.functions.IvfIndex)
  * — the round-15 promotion of the measured large-k path into
  * the product surface: routing correctness against the flat argmax,
  * probe-constraint honesty (an indexed cell is always one of the
  * vector's probed groups), and bit-stability of the large-k fit across
  * partition layouts (the KMeans decimal-sum rule).
  */
class IvfIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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
    // the size gate and the broadcastQueries knob move exchange
    // strategies, never rows; and the heap merge is deterministic under
    // the (cos DESC, cand_id ASC) total order, so re-layout of the
    // inverted file cannot move results either.
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    def run(inv: DataFrame, bMax: Long, bq: Boolean) =
      functions.IvfIndex.searchTopK(queries, inv, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32,
        broadcastMaxCids = bMax, broadcastQueries = bq)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val base = run(inverted, functions.IvfIndex.BroadcastMaxCids, bq = true)
    assert(base == run(inverted, 1L, bq = true),
      "forced centroid shuffle-join regime moved search results")
    assert(base == run(inverted, functions.IvfIndex.BroadcastMaxCids, bq = false),
      "non-broadcast query join moved search results")
    assert(base == run(inverted.repartition(13, col("vec_id")),
      functions.IvfIndex.BroadcastMaxCids, bq = true),
      "inverted-file re-layout moved search results")
  }

  test("searchTopKAt prunes the cell-partitioned read and matches searchTopK exactly") {
    // the 100 TB retrieval deployment form (round-17; VERDICT r16 #2):
    // writeInverted lays the index out partitionBy(cell), searchTopKAt
    // turns the batch's probed cells into a static partition filter —
    // the scan must read ONLY the probed cells' files (pinned via the
    // FileSourceScan numFiles metric) and return bit-identical rows to
    // the in-memory searchTopK over the same inverted table.
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_inv").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.writeInverted(inverted, path)
      val filesTotal = spark.read.parquet(path).inputFiles.length
      val pruned = functions.IvfIndex.searchTopKAt(queries, path, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
      val gotRows = pruned.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      val base = functions.IvfIndex.searchTopK(queries, inverted, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      assert(gotRows.toSeq == base.toSeq,
        "pruned-read search must be bit-identical to the in-memory search")
      // the probed-cell set is < k, so files read < files total; pull
      // the count from the executed scan's own metric, not a re-derived
      // read, so the pin covers searchTopKAt's actual plan. AQE hides
      // the final tree behind AdaptiveSparkPlanExec/QueryStageExec
      // leaves, so walk through them explicitly.
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
        val here = p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case _ => Nil
        }
        val inner = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(q.plan)
          case _ => Nil
        }
        here ++ inner ++ (p.children ++ p.subqueries).flatMap(scansOf)
      }
      val scans = scansOf(pruned.queryExecution.executedPlan)
      assert(scans.nonEmpty, "expected a parquet scan in the pruned plan")
      val filesRead = scans.map(_.metrics("numFiles").value).max
      assert(filesRead > 0 && filesRead < filesTotal,
        s"expected a pruned read, got $filesRead of $filesTotal files")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"probed cells must reach the scan as partition filters:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("searchTopKAt's pruneMaxCells gate refuses unselective batches and can be raised") {
    // the boundary is a parameter (round 18 — the measured IN-list
    // boundary, see PruneMaxCells scaladoc): forced tiny it must refuse
    // with the documented fallback guidance; raised back above the
    // batch's probed-cell count the same call must return the identical
    // result — the gate only guards the driver collect, never the plan
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_gate").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.writeInverted(inverted, path)
      def at(bound: Int) = functions.IvfIndex.searchTopKAt(queries, path, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32,
        pruneMaxCells = bound)
      val ex = intercept[IllegalArgumentException] { at(1).collect() }
      assert(ex.getMessage.contains("searchTopK over a full read"),
        s"refusal must name the fallback: ${ex.getMessage}")
      val defaulted = functions.IvfIndex.searchTopKAt(queries, path, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      val raised = at(32).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      assert(raised.toSeq == defaulted.toSeq,
        "a raised bound must not change the result")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("appendInverted: incremental adds are search-identical to a full rebuild") {
    // the continuous-ingest contract: write the index from the first
    // half of the corpus, append the second half in TWO batches against
    // the same frozen centroids, and searchTopKAt over the grown index
    // must equal searchTopK over a single-shot assignment of the whole
    // corpus — bit for bit, because cell membership is a pure function
    // of (vector, centroids) and the heap order is total. Also pins the
    // append layout: existing base files are never rewritten.
    val half1 = corpus.filter(col("vec_id") % 2 === 0)
    val half2a = corpus.filter(col("vec_id") % 4 === 1)
    val half2b = corpus.filter(col("vec_id") % 4 === 3)
    val queries = corpus.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.writeInverted(
        functions.IvfIndex.assignIndexed(half1, cents32,
          groupSize = 8, nprobe = 2, kHint = 32), path)
      val baseFiles = spark.read.parquet(path).inputFiles.toSet
      functions.IvfIndex.appendInverted(half2a, cents32, path, kHint = 32)
      functions.IvfIndex.appendInverted(half2b, cents32, path, kHint = 32)
      val grownFiles = spark.read.parquet(path).inputFiles.toSet
      assert(baseFiles.subsetOf(grownFiles),
        "append must never rewrite or drop the base files")
      assert(grownFiles.size > baseFiles.size, "append must add files")
      val got = functions.IvfIndex.searchTopKAt(queries, path, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      val rebuilt = functions.IvfIndex.searchTopK(queries,
        functions.IvfIndex.assignIndexed(corpus, cents32,
          groupSize = 8, nprobe = 2, kHint = 32),
        cents32, topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
      assert(got.length == rebuilt.length && got.toSeq == rebuilt.toSeq,
        "search over the incrementally-grown index must equal the full rebuild")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
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
    val floor = functions.IvfIndex.routeFloor(
      base.filter(col("vec_id") % 2 === 0), cents,
      calibQ = 0.10, groupSize = 2, nprobe = 2, kHint = 8)
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

  test("maintain compacts an over-budget store search-identically; under-budget is untouched") {
    // the compaction VERB (round 19; VERDICT r18 #2): the round-18 curve
    // gave the file-count law and the price — maintain() executes it.
    // Pins: a store within budget returns false with the file set
    // byte-identical; an over-budget store compacts to ≈ one file per
    // cell with every row preserved and searchTopKAt bit-identical.
    val queries = corpus.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_maintain").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.writeInverted(
        functions.IvfIndex.assignIndexed(corpus.filter(col("vec_id") % 2 === 0),
          cents32, groupSize = 8, nprobe = 2, kHint = 32), path)
      functions.IvfIndex.appendInverted(
        corpus.filter(col("vec_id") % 4 === 1), cents32, path, kHint = 32)
      functions.IvfIndex.appendInverted(
        corpus.filter(col("vec_id") % 4 === 3), cents32, path, kHint = 32)
      val filesGrown = spark.read.parquet(path).inputFiles.length
      val rowsGrown = spark.read.parquet(path).count()
      val cells = spark.read.parquet(path).select("cell").distinct().count()
      assert(filesGrown > cells, "fixture must carry append generations to compact")
      def search(): Seq[(Long, Long, Double, Int)] =
        functions.IvfIndex.searchTopKAt(queries, path, cents32,
          topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
      val before = search()
      val untouched = spark.read.parquet(path).inputFiles.toSet
      assert(!functions.IvfIndex.maintain(spark, path, fileBudget = filesGrown),
        "a store within budget must not be compacted")
      assert(spark.read.parquet(path).inputFiles.toSet == untouched,
        "a within-budget maintain must leave the file set byte-identical")
      assert(functions.IvfIndex.maintain(spark, path, fileBudget = cells.toInt),
        "an over-budget store must be compacted")
      val filesAfter = spark.read.parquet(path).inputFiles.length
      assert(filesAfter <= cells && filesAfter < filesGrown,
        s"compaction must restore ≈ one file per cell: $filesGrown -> $filesAfter vs $cells cells")
      assert(spark.read.parquet(path).count() == rowsGrown,
        "compaction must preserve every row")
      assert(search() == before, "maintain must never move search results")
      assert(!new java.io.File(path + ".maintain.tmp").exists() &&
        !new java.io.File(path + ".maintain.old").exists(),
        "maintain must clean up its working directories")
      // lifecycle continuity: ingest keeps working on the swapped-in
      // store — an append AFTER a maintain must land partition-wise and
      // the result must still equal a single-shot rebuild of everything
      val late = corpus.filter(col("vec_id") % 2 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      functions.IvfIndex.appendInverted(late, cents32, path, kHint = 32)
      val rebuilt = functions.IvfIndex.searchTopK(queries,
        functions.IvfIndex.assignIndexed(corpus.unionAll(late), cents32,
          groupSize = 8, nprobe = 2, kHint = 32),
        cents32, topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(search() == rebuilt,
        "append after maintain must equal a single-shot rebuild of the union")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("sidecar round-trip: buildIndex persists the serving contract and path-only verbs reproduce explicit-args results") {
    // the round-20 contract (VERDICT r19 #1): the index's serving and
    // monitoring parameters — centroids, floor, calibQ, routing shape,
    // file budget — persist WITH the store, and the path-only
    // overloads of searchTopKAt/driftStats/maintain read them back, so
    // a mismatched (floor, calibQ) pair is impossible by construction.
    val queries = corpus.filter(col("vec_id") < 10)
    val calib = corpus.filter(col("vec_id") >= 42 && col("vec_id") < 142)
    val dir = java.nio.file.Files.createTempDirectory("ivf_meta").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      val meta = functions.IvfIndex.buildIndex(corpus, cents32, path, calib,
        calibQ = 0.10, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32,
        fileBudget = 999)
      // round-trip: the meta read back is bit-identical to the one written
      val back = functions.IvfIndex.readMeta(spark, path)
      assert(back == meta, s"sidecar round-trip drifted: wrote $meta read $back")
      assert(java.lang.Double.doubleToLongBits(back.floor) ==
        java.lang.Double.doubleToLongBits(meta.floor),
        "floor must round-trip to the exact IEEE bits")
      // the stored centroids verify and match the fit table row-for-row
      val cback = functions.IvfIndex.readCentroids(spark, path, back)
      assert(cback.orderBy("cid").collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSeq ==
        cents32.orderBy("cid").collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSeq,
        "stored centroids must equal the table the index was built with")
      // explicit-floor equality: the sidecar floor IS routeFloor's output
      val explicitFloor = functions.IvfIndex.routeFloor(calib, cents32,
        calibQ = 0.10, kHint = 32)
      assert(meta.floor == explicitFloor,
        "buildIndex must persist exactly the routeFloor calibration")
      // overload ≡ explicit args: search
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val viaMeta = rows(functions.IvfIndex.searchTopKAt(queries, path, 5))
      val viaArgs = rows(functions.IvfIndex.searchTopKAt(queries, path, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32))
      assert(viaMeta == viaArgs,
        "path-only searchTopKAt must equal the explicit-argument form")
      // the widen-probes overload ≡ explicit widened args
      val viaMetaWide = rows(functions.IvfIndex.searchTopKAt(queries, path, 5, 4, 4))
      val viaArgsWide = rows(functions.IvfIndex.searchTopKAt(queries, path, cents32,
        topK = 5, groupSize = 8, nprobe = 4, probeCells = 4, kHint = 32))
      assert(viaMetaWide == viaArgsWide,
        "widen-probes searchTopKAt must equal the explicit-argument form")
      // overload ≡ explicit args: monitor — the exact pair the sidecar
      // exists to keep matched
      val sMeta = functions.IvfIndex.driftStats(spark, path, queries).head()
      val sArgs = functions.IvfIndex.driftStats(queries, cents32, meta.floor,
        calibQ = meta.calibQ, kHint = 32).head()
      assert(sMeta == sArgs,
        "path-only driftStats must equal the explicit (floor, calibQ) form")
      // overload: maintain reads its budget from the sidecar (999 ≥
      // current files ⇒ no-op false)
      assert(!functions.IvfIndex.maintain(spark, path),
        "a store within its sidecar budget must not compact")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("a stale or missing sidecar is rejected with a named error, never silently served") {
    // the one remaining silent-wrong path of round 19: a floor judged
    // at a calibQ it wasn't read at, or centroids swapped out from
    // under the calibration. With the sidecar, both states are LOUD:
    // missing sidecar names the build remedy; a centroid table that no
    // longer matches the recorded checksum names the stale-metadata
    // condition.
    val queries = corpus.filter(col("vec_id") < 10)
    val calib = corpus.filter(col("vec_id") >= 42 && col("vec_id") < 142)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stale").toFile
    try {
      val bare = new java.io.File(dir, "bare").getAbsolutePath
      functions.IvfIndex.writeInverted(
        functions.IvfIndex.assignIndexed(corpus, cents32,
          groupSize = 8, nprobe = 2, kHint = 32), bare)
      val exMissing = intercept[IllegalArgumentException] {
        functions.IvfIndex.searchTopKAt(queries, bare, 5)
      }
      assert(exMissing.getMessage.contains("no index metadata"),
        s"missing sidecar must name the condition: ${exMissing.getMessage}")
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.buildIndex(corpus, cents32, path, calib, kHint = 32)
      // out-of-band centroid rewrite: drop one centroid without
      // refreshing the json — the checksum must catch it
      val tampered = cents32.filter(col("cid") =!= 7)
      tampered.repartition(1).write.mode("overwrite")
        .parquet(s"$path/${functions.IvfIndex.CentsDirName}")
      val exStale = intercept[IllegalArgumentException] {
        functions.IvfIndex.driftStats(spark, path, queries).head()
      }
      assert(exStale.getMessage.contains("stale index metadata"),
        s"mismatched centroids must read as stale metadata: ${exStale.getMessage}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("a corrupted or wrong-format sidecar fails with a named remedy, and no .tmp residue survives a write") {
    // crash-surface completeness for the sidecar itself: a truncated
    // json (crash mid-write would leave one only as .tmp, but a disk
    // corruption can produce one in place) names the missing field and
    // the rewrite remedy; a wrong-format file names the format; and a
    // successful writeIndexMeta leaves no .tmp behind (the write lands
    // via write-then-rename, so readers never see a partial sidecar).
    val calib = corpus.filter(col("vec_id") >= 42 && col("vec_id") < 142)
    val dir = java.nio.file.Files.createTempDirectory("ivf_corrupt").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.buildIndex(corpus, cents32, path, calib, kHint = 32)
      assert(!new java.io.File(path,
        functions.IvfIndex.MetaFileName + ".tmp").exists(),
        "writeIndexMeta must leave no .tmp residue")
      val mp = new java.io.File(path, functions.IvfIndex.MetaFileName)
      val good = new String(java.nio.file.Files.readAllBytes(mp.toPath), "UTF-8")
      // out-of-band writes must also drop Hadoop's local-FS checksum
      // side file, or ChecksumFileSystem rejects the read before the
      // parse-level errors under test can engage (itself a nice
      // property — on the local FS, byte-level tampering is caught
      // one layer below readMeta)
      def dropCrc(): Unit =
        new java.io.File(path, "." + functions.IvfIndex.MetaFileName + ".crc").delete()
      // truncate: keep the format header, drop later fields
      java.nio.file.Files.write(mp.toPath,
        good.substring(0, good.indexOf("\"nprobe\"")).getBytes("UTF-8"))
      dropCrc()
      val exTrunc = intercept[IllegalArgumentException] {
        functions.IvfIndex.readMeta(spark, path)
      }
      assert(exTrunc.getMessage.contains("missing field") &&
        exTrunc.getMessage.contains("writeIndexMeta"),
        s"truncated sidecar must name the field and remedy: ${exTrunc.getMessage}")
      java.nio.file.Files.write(mp.toPath,
        """{"format":"not-graft","k":1}""".getBytes("UTF-8"))
      dropCrc()
      val exFmt = intercept[IllegalArgumentException] {
        functions.IvfIndex.readMeta(spark, path)
      }
      assert(exFmt.getMessage.contains("graft-ivf-v1"),
        s"wrong-format sidecar must name the expected format: ${exFmt.getMessage}")
      // and a rewrite heals it: the full contract round-trips again
      java.nio.file.Files.write(mp.toPath, good.getBytes("UTF-8"))
      dropCrc()
      assert(functions.IvfIndex.readMeta(spark, path).k == 32L)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
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

  test("searchTopKAt rejects an un-ordered limit (row-set non-determinism) but accepts an ordered one") {
    // round-19 ADVICE: the expression walk cannot see row-SET
    // non-determinism — limit(n) without an ordering selects arbitrary
    // rows per execution on multi-partition input, and the probe pass
    // runs twice. An orderBy+limit is a deterministic top-n and must
    // still pass.
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_lim").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.writeInverted(inverted, path)
      def at(q: DataFrame) = functions.IvfIndex.searchTopKAt(q, path, cents32,
        topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
      val ex = intercept[IllegalArgumentException] {
        at(queries.limit(5))
      }
      assert(ex.getMessage.contains("limit without an ordering"),
        s"un-ordered limit must be rejected by name: ${ex.getMessage}")
      assert(at(queries.orderBy("vec_id").limit(5)).count() == 25,
        "an ordered limit is deterministic and must pass the gate")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("maintain auto-restores an interrupted swap, and readInverted retries across a mid-swap window") {
    // round-20 fencing (VERDICT r19 #2 + round-19 ADVICE): a maintain
    // that dies between its two renames leaves the store only at
    // <path>.maintain.old. (a) The NEXT maintain call detects that
    // state at entry and restores it before proceeding. (b) A reader
    // going through readInverted sees the swap markers and retries
    // instead of failing on the missing path. (c) A missing path with
    // NO markers fails immediately — wrong path, not a swap.
    val dir = java.nio.file.Files.createTempDirectory("ivf_swap").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.writeInverted(
        functions.IvfIndex.assignIndexed(corpus, cents32,
          groupSize = 8, nprobe = 2, kHint = 32), path)
      val rowsBefore = spark.read.parquet(path).count()
      val filesBefore = spark.read.parquet(path).inputFiles.toSet
      // simulate the death-between-renames state
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + ".maintain.old")))
      // (a) maintain at entry restores, then proceeds normally (budget
      // generous ⇒ no-op false, file set untouched)
      assert(!functions.IvfIndex.maintain(spark, path, fileBudget = 10000))
      assert(spark.read.parquet(path).count() == rowsBefore,
        "auto-restore must bring back every row")
      assert(spark.read.parquet(path).inputFiles.toSet == filesBefore,
        "auto-restore + within-budget maintain must leave files untouched")
      assert(!new java.io.File(path + ".maintain.old").exists(),
        "the restored swap must leave no marker behind")
      // (b) reader retry: put the store mid-swap again, restore it from
      // another thread after ~0.5 s — readInverted must ride it out
      assert(fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + ".maintain.old")))
      val restorer = new Thread(() => {
        Thread.sleep(500)
        fs.rename(new org.apache.hadoop.fs.Path(path + ".maintain.old"),
          new org.apache.hadoop.fs.Path(path))
      })
      restorer.start()
      val got = functions.IvfIndex.readInverted(spark, path).count()
      restorer.join()
      assert(got == rowsBefore, "reader must see the full store after the swap closes")
      // (c) a genuinely-missing path (no markers) fails immediately by name
      val exMissing = intercept[IllegalStateException] {
        functions.IvfIndex.readInverted(spark,
          new java.io.File(dir, "nope").getAbsolutePath)
      }
      assert(exMissing.getMessage.contains("no maintain-swap markers"),
        s"missing store must not be read as a swap: ${exMissing.getMessage}")
      // and a swap that NEVER closes names the recovery step
      assert(fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + ".maintain.old")))
      val exStuck = intercept[IllegalStateException] {
        functions.IvfIndex.readInverted(spark, path, attempts = 2, waitMs = 50L)
      }
      assert(exStuck.getMessage.contains("maintain(spark, path)"),
        s"a stuck swap must name the recovery verb: ${exStuck.getMessage}")
      assert(fs.rename(new org.apache.hadoop.fs.Path(path + ".maintain.old"),
        new org.apache.hadoop.fs.Path(path)))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("maintain carries the sidecar through compaction byte-for-byte") {
    // the serving contract must survive the rewrite: compact an
    // over-budget store built with buildIndex and pin that the meta
    // (floor bits included) and stored centroids read back identical,
    // and that the path-only search still serves.
    val queries = corpus.filter(col("vec_id") < 10)
    val calib = corpus.filter(col("vec_id") >= 42 && col("vec_id") < 142)
    val dir = java.nio.file.Files.createTempDirectory("ivf_keep").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      val meta = functions.IvfIndex.buildIndex(
        corpus.filter(col("vec_id") % 2 === 0), cents32, path, calib, kHint = 32)
      functions.IvfIndex.appendInverted(
        corpus.filter(col("vec_id") % 2 === 1), cents32, path, kHint = 32)
      val before = functions.IvfIndex.searchTopKAt(queries, path, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val cells = spark.read.parquet(path).select("cell").distinct().count()
      assert(functions.IvfIndex.maintain(spark, path, fileBudget = cells.toInt),
        "the appended store must be over a one-file-per-cell budget")
      assert(functions.IvfIndex.readMeta(spark, path) == meta,
        "compaction must carry the sidecar unchanged")
      val after = functions.IvfIndex.searchTopKAt(queries, path, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(after == before, "path-only search must be identical across maintain")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("searchTopKAt rejects non-deterministic query or centroid plans with a named error") {
    // the probe-determinism contract, ENFORCED (round 19; round-18
    // ADVICE): searchTopKAt executes its probe pass twice, so a
    // rand()-filtered batch could probe different cells on re-execution
    // and silently drop candidates — it must fail loudly instead, for
    // BOTH inputs, and the gate must not fire on honest plans.
    val inverted = functions.IvfIndex.assignIndexed(corpus, cents32,
      groupSize = 8, nprobe = 2, kHint = 32)
    val queries = corpus.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_det").toFile
    try {
      val path = new java.io.File(dir, "inverted").getAbsolutePath
      functions.IvfIndex.writeInverted(inverted, path)
      def at(q: DataFrame, c: DataFrame) =
        functions.IvfIndex.searchTopKAt(q, path, c,
          topK = 5, groupSize = 8, nprobe = 2, probeCells = 2, kHint = 32)
      // rand() < 2.0 is always true — the REJECTION is purely about the
      // expression being non-deterministic, not about the rows it keeps
      val exQ = intercept[IllegalArgumentException] {
        at(queries.filter(rand() < 2.0), cents32)
      }
      assert(exQ.getMessage.contains("`queries` plan must be deterministic"),
        s"rejection must name the offending input: ${exQ.getMessage}")
      val exC = intercept[IllegalArgumentException] {
        at(queries, cents32.filter(rand() < 2.0))
      }
      assert(exC.getMessage.contains("`cents` plan must be deterministic"),
        s"rejection must name the offending input: ${exC.getMessage}")
      assert(at(queries, cents32).count() == 50,
        "the gate must not fire on deterministic plans")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }
}
