package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime re-optimization demonstrations — the knobs that keep the
  * static plans viable at 100 TB:
  *
  *  - AQE skew-join splitting: a hot join key that would pin one
  *    reducer is split into multiple tasks at runtime (the safety net
  *    behind the explicit salting pattern of q_agg_salted);
  *  - runtime bloom-filter pruning: a selective filter on one join
  *    side is turned into a bloom filter applied to the other side's
  *    scan, cutting shuffle input before the join.
  *
  * Thresholds are lowered to make both fire at test scale; at real
  * scale the defaults fire on the same shapes.
  */
class RuntimeOptSpec extends AnyFunSuite {

  // Suites share one JVM session — runtime confs are set per-test and
  // restored (builder configs after the first suite are ignored).
  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 100k rows, 90% on key 0 — one reducer would take ~90% of the work
      val left = spark.range(100000)
        .select(when(pmod(col("id"), lit(10)) < 9, 0L).otherwise(col("id")).as("k"),
          concat(lit("payload-"), col("id")).as("pay"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      // collect() (not count()) — the AQE-final plan belongs to the
      // executed DF; count() builds and runs a different tree
      // (90k rows on hot key 0 + the 100 non-hot ids under 1000)
      assert(joined.collect().length == 90100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected a skew-split join in:\n$plan")
    }
  }

  test("AQE skew-join splits q_join_skew's join shape unsalted, same result as the manual salt") {
    // Round-11 audit (verdict item 7): the SAME lineitem ⋈ supplier
    // join shape q_join_skew hand-salts, on an input with a REAL hot
    // key (testdata suppkeys are uniform, so the skew is manufactured
    // deterministically: 90% of lines redirect to suppkey 1 — the
    // distribution a hot-product supplier produces). Run once
    // UNSALTED under AQE skew-join and once through q_join_skew's
    // exact salting (salt big side ×8, replicate dim ×8): AQE must
    // (a) split the hot partition at runtime (skew=true on the
    // sort-merge join) and (b) produce exactly the salted plan's
    // rows — the adaptive split and the manual salt are two mechanics
    // for the same answer. When manual salting still wins, per
    // SCALE.md §"AQE skew split vs manual salting": known-hot keys
    // (salt bounds EVERY run's straggler; AQE reacts only after map
    // stats exist), skewed AGGREGATIONS (AQE splits join partitions,
    // not a hot groupBy — q_agg_salted's territory), and pipelines
    // that pre-aggregate per salt before the join.
    //
    // Two detection preconditions this test documents (both found
    // empirically, both 100 TB-relevant):
    //  - AQE splits a skewed reduce partition into MAP-OUTPUT-RANGE
    //    chunks, so the upstream stage must have >1 map task — the
    //    single-file sf0.001 scan (one mapper) is unsplittable no
    //    matter how skewed; hence sf0.01 + repartition(8). On a real
    //    cluster the upstream always has thousands of mappers.
    //  - Detection reads COMPRESSED shuffle sizes: a hot key whose
    //    rows carry no payload (constant key, all other columns
    //    pruned) can compress below the skew threshold and look
    //    un-skewed — size-based detection needs real payload bytes.
    val sf = "/root/testdata/sf0.01"
    val skewed = Tables.lineitem(spark, sf)
      .select(
        when(pmod(col("l_orderkey"), lit(10)) < 9, 1L)
          .otherwise(col("l_suppkey")).as("l_suppkey"),
        col("l_quantity"))
      .repartition(8)
    val dim = Tables.supplier(spark, sf).select(col("s_suppkey"), col("s_name"))
    def agg(joined: org.apache.spark.sql.DataFrame) = joined
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(Tables.Dec2)).cast("double").as("qty"))
    val unsalted = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val df = agg(skewed.join(dim, col("l_suppkey") === col("s_suppkey")))
      val rows = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to split the hot-suppkey join partition at runtime:\n$plan")
      rows
    }
    // q_join_skew's exact salting mechanics over the same skewed input
    val salted = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val S = 8
      val big = skewed.withColumn("salt_b",
        pmod(xxhash64(col("l_suppkey"), col("l_quantity")), lit(S)).cast("int"))
      val rep = dim.withColumn("salt_d", explode(sequence(lit(0), lit(S - 1))))
      agg(big.join(rep,
        col("l_suppkey") === col("s_suppkey") && col("salt_b") === col("salt_d")))
        .collect()
    }
    assert(unsalted.map(_.toSeq).toSet == salted.map(_.toSeq).toSet,
      "AQE-split unsalted join must equal the manually salted result")
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB") {
      val sf = "/root/testdata/sf0.001"
      val big = Tables.lineitem(spark, sf)
      val dim = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val joined = big.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter in:\n$plan")
      assert(joined.count() > 0)
    }
  }

  test("Pregel-posture query is bit-identical under the reliable checkpoint path") {
    // the cluster-grade switch must be a pure durability change: run an
    // iterative query (connected components + golden record — ~4
    // Checkpoint call sites) WITHOUT a dir, then WITH one, and require
    // identical output
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "another suite already set a checkpoint dir on the shared context")
    val sf = "/root/testdata/sf0.001"
    val localRows = SparkEntry.queries("q_dedup_cluster")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_e2e").toFile
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val reliableRows = SparkEntry.queries("q_dedup_cluster")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(reliableRows === localRows)
    } finally {
      try spark.sparkContext.setCheckpointDir(null)
      catch { case _: Throwable => () }
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("Checkpoint: local fallback without a dir, reliable checkpoint files once a dir is set") {
    import spark.implicits._
    // ORDER MATTERS: probe the fallback BEFORE any checkpoint dir is
    // set on the shared context (setCheckpointDir is one-way).
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "another suite already set a checkpoint dir on the shared context")
    val df = (1 to 100).toDF("x")
    val local = Checkpoint(df)
    assert(local.count() === 100)
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "no-dir path must not invent a checkpoint dir")

    // now flip the cluster-grade switch: a reliable checkpoint must
    // write recoverable RDD files under the configured dir
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val reliable = Checkpoint(df.select(col("x") * 2 as "y"))
      assert(reliable.count() === 100)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      assert(walk(dir).nonEmpty,
        s"reliable checkpoint must persist RDD blocks under $dir")
    } finally {
      // restore the shared context: Option(null) clears checkpointDir
      // in local mode, so later suites keep the local fast path
      try spark.sparkContext.setCheckpointDir(null)
      catch { case _: Throwable => () }
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }
}
