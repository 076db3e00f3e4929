package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** The custom TopKPerGroup operator: equivalence with the window
  * formulation, plan shape (partial heap below the exchange, final heap
  * above), and edge cases (small groups, k=1, duplicate order values).
  */
class TopKPerGroupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("matches row_number window formulation on orders") {
    graft.plans.TopKRewriteRule.register(spark)
    // the differential needs the REAL window plan on one side: build it
    // in a fresh session, which has no graft rule or strategy installed
    val fresh = spark.newSession()
    def base(s: SparkSession) = Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val viaOp = graft.plans.TopKPerGroup(base(spark),
      Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = base(fresh)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    assert(viaWindow.queryExecution.executedPlan.toString.contains("Window"),
      "differential baseline must be the real window plan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .collect().map(_.toString).sorted.toSeq
    val got = rows(viaOp)
    assert(got.nonEmpty)
    assert(got == rows(viaWindow))
  }

  test("plan shape: partial heap below the exchange, final heap above") {
    graft.plans.TopKRewriteRule.register(spark)
    val df = graft.plans.TopKPerGroup(
      Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey")),
      Seq("o_custkey"), Seq("o_orderkey" -> true), 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupFinal"), plan)
    assert(plan.contains("TopKPerGroupPartial"), plan)
    val iFinal = plan.indexOf("TopKPerGroupFinal")
    val iEx = plan.indexOf("Exchange", iFinal)
    val iPartial = plan.indexOf("TopKPerGroupPartial", iFinal)
    assert(iEx >= 0 && iPartial > iEx,
      s"expected final -> Exchange -> partial ordering in:\n$plan")
  }

  test("plan shape: pre-clustered child needs NO exchange; downstream keyed agg reuses the partitioning") {
    graft.plans.TopKRewriteRule.register(spark)
    // child repartitioned on the group key: the partial/final stages are
    // per-partition transforms and MUST propagate that partitioning, so
    // (a) no exchange appears between partial and final, and (b) a
    // downstream groupBy on the same key plans without re-shuffling
    val child = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"))
      .repartition(col("o_custkey"))
    val topk = graft.plans.TopKPerGroup(
      child, Seq("o_custkey"), Seq("o_orderkey" -> true), 2)
    val agged = topk.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val plan = agged.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"one explicit repartition only — heap stages and the agg must reuse it, got $exchanges:\n$plan")
    assert(agged.count() > 0)
  }

  test("randomized differential: operator == pure-Scala model over seeded datasets") {
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 200 + rnd.nextInt(800)
      val nGroups = 1 + rnd.nextInt(12)
      val k = 1 + rnd.nextInt(4)
      // small value domain forces ties; unique id breaks them
      val rows = (0 until n).map(i =>
        (s"g${rnd.nextInt(nGroups)}", i.toLong, rnd.nextInt(10).toDouble))
      val df = rows.toDF("g", "id", "v").repartition(1 + rnd.nextInt(5))
      val got = graft.plans.TopKPerGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), k)
        .select("g", "id", "v", "rn").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.sortBy(t => (-t._3, t._2)).take(k).zipWithIndex
          .map { case ((_, id, v), i) => (g, id, v, i + 1) }
      }.toSet
      assert(got == want, s"seed=$seed n=$n groups=$nGroups k=$k")
    }
  }

  test("edge cases: k=1, groups smaller than k, duplicate order values") {
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 5.0),
      ("b", 4L, 1.0),
      ("c", 5L, 7.0), ("c", 6L, 9.0), ("c", 7L, 9.0), ("c", 8L, 2.0))
      .toDF("g", "id", "v").repartition(3)
    val top2 = graft.plans.TopKPerGroup(df,
      Seq("g"), Seq("v" -> false, "id" -> true), 2)
      .select("g", "id", "v", "rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(top2.toSeq == Seq(
      ("a", 1L, 10.0, 1), ("a", 2L, 10.0, 2),
      ("b", 4L, 1.0, 1),
      ("c", 6L, 9.0, 1), ("c", 7L, 9.0, 2)))
    val top1 = graft.plans.TopKPerGroup(df, Seq("g"), Seq("v" -> true, "id" -> true), 1)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(top1.toSeq == Seq(("a", 3L), ("b", 4L), ("c", 8L)))
  }

  test("rewrite rule: row_number window filter plans as the native operator") {
    graft.plans.TopKRewriteRule.register(spark)
    val base = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val q = base.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupFinal"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window "), s"window operator survived the rewrite:\n$plan")
    // results identical to the un-rewritten window form
    val noRewrite = graft.plans.TopKPerGroup(base,
      Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    assert(q.count() == noRewrite.count())
    assert(q.exceptAll(noRewrite).count() == 0)
  }

  test("rewrite rule: keep-first dedup (rn = 1) and residual conjuncts") {
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    val df = Seq(("x", 3L, 9.0), ("x", 1L, 9.0), ("y", 2L, 4.0), ("y", 5L, 1.0))
      .toDF("g", "id", "v").repartition(2)
    val w = Window.partitionBy("g").orderBy("id")
    val dedup = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("v") > 2.0)
    val plan = dedup.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupFinal"), plan)
    val got = dedup.select("g", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got.toSeq == Seq(("x", 1L, 9.0), ("y", 2L, 4.0)))
  }

  test("rewrite rule: non-positive k and disjunctive filters are NOT rewritten") {
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    val df = Seq(("x", 1L, 5.0), ("x", 2L, 3.0), ("y", 3L, 8.0)).toDF("g", "id", "v")
    val w = Window.partitionBy("g").orderBy("id")
    // rn < 1 is always false — k would be 0; must not plan the operator
    val empty = df.withColumn("rn", row_number().over(w)).filter(col("rn") < 1)
    assert(!empty.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    assert(empty.count() == 0)
    // a disjunction can't be split — no rewrite, results unchanged
    val or = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 1 || col("v") > 7.0)
    assert(!or.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    assert(or.count() == 2) // (x,1) via rn=1; (y,3) via both disjuncts
  }

  test("rewrite rule: k above DefaultMaxK declines to the window plan") {
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    val df = Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("g", "id")
    val w = Window.partitionBy("g").orderBy("id")
    def planned(k: Int): String = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).queryExecution.executedPlan.toString
    // an "effectively unlimited" top-k must stay on the spilling window
    // plan — the heaps hold k rows per group per partition in memory
    assert(!planned(graft.plans.TopKRewriteRule.DefaultMaxK + 1).contains("TopKPerGroup"))
    assert(planned(graft.plans.TopKRewriteRule.DefaultMaxK).contains("TopKPerGroup"))
    assert(planned(3).contains("TopKPerGroup"))
  }

  test("rewrite rule: rank/dense_rank windows are NOT rewritten") {
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    val df = Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("g", "id")
    val w = Window.partitionBy("g").orderBy("id")
    val q = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerGroup"), plan)
    assert(q.count() == 2)
  }

  test("empty groupCols = one global group, merged across partitions") {
    // regression: the final exec must demand AllTuples for the global
    // case — with UnspecifiedDistribution each partition emitted its own
    // "global" top-k (up to partitions*k rows, k of them rn=1)
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, (i * 37 % 101).toDouble))
      .toDF("id", "v").repartition(4)
    val got = graft.plans.TopKPerGroup(df, Seq(), Seq("v" -> false, "id" -> true), 3)
      .select("id", "v", "rn")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .sortBy(_._3)
    val want = (1L to 100L).map(i => (i, (i * 37 % 101).toDouble))
      .sortBy(t => (-t._2, t._1)).take(3).zipWithIndex
      .map { case ((id, v), i) => (id, v, i + 1) }
    assert(got.toSeq == want.toSeq)
  }

  test("memory guard: adversarial group cardinality degrades, results unchanged") {
    // group count (1200) >> retained cap (37): every partition of BOTH
    // stages hits the cap, so the partial stage passes rows through and
    // the final stage runs the spillable-sort fallback. The observable
    // contract: identical results to the pure-Scala model — the guard
    // trades speed for bounded memory, never correctness.
    graft.plans.TopKRewriteRule.register(spark)
    import spark.implicits._
    spark.conf.set(graft.plans.TopKRewriteRule.MaxRetainedKey, "37")
    try {
      val rnd = new scala.util.Random(99)
      val rows = (0 until 5000).map(i =>
        (s"g${rnd.nextInt(1200)}", i.toLong, rnd.nextInt(7).toDouble))
      val df = rows.toDF("g", "id", "v").repartition(5)
      val got = graft.plans.TopKPerGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), 2)
        .select("g", "id", "v", "rn").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.sortBy(t => (-t._3, t._2)).take(2).zipWithIndex
          .map { case ((_, id, v), i) => (g, id, v, i + 1) }
      }.toSet
      assert(got == want)
      // same data, cap far above the state: fast heap path, same result
      spark.conf.set(graft.plans.TopKRewriteRule.MaxRetainedKey, "1000000")
      val got2 = graft.plans.TopKPerGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), 2)
        .select("g", "id", "v", "rn").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got2 == want)
    } finally spark.conf.unset(graft.plans.TopKRewriteRule.MaxRetainedKey)
  }
}
