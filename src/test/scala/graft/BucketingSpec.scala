package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.gen.SqloadGen

/** Bucketed bulk-load layout: proves that two tables bucketed on the
  * same key join with NO exchange in the physical plan — the
  * co-location property the bulk-load path is built around.
  */
class BucketingSpec extends AnyFunSuite {

  // NOTE: ScalaTest suites share one JVM → one SparkSession; builder
  // configs after the first getOrCreate are silently ignored, so
  // runtime-settable confs are applied inside the test instead.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("same-bucketing join plans as SortMergeJoin with no shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a fresh JVM gets a fresh in-memory catalog but the warehouse
      // dirs persist — clear both or saveAsTable hits
      // LOCATION_ALREADY_EXISTS
      Seq("bkt_a", "bkt_b").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val dir = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
      val a = SqloadGen.table(spark, "key,int,varchar(8)", 10000, seed = 1)
      val b = SqloadGen.table(spark, "key,double", 10000, seed = 2)
      SqloadGen.writeBucketed(a, "bkt_a", "c0", 8)
      SqloadGen.writeBucketed(b, "bkt_b", "c0", 8)
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "c0")
      val plan = joined.queryExecution.executedPlan.toString
      // non-vacuous: it must be the shuffle-join operator, minus the shuffle
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 10000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("repartitionByRange bulk-load layout produces contiguous key ranges") {
    val df = SqloadGen.table(spark, "key,int", 10000, seed = 3)
    val parts = df.repartitionByRange(8, df.col("c0"))
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"), df.col("c0"))
      .groupBy("p")
      .agg(org.apache.spark.sql.functions.min("c0").as("lo"),
        org.apache.spark.sql.functions.max("c0").as("hi"))
      .orderBy("p")
      .collect()
    // ranges must be disjoint and ordered
    parts.sliding(2).foreach {
      case Array(x, y) => assert(x.getLong(2) < y.getLong(1))
      case _ =>
    }
  }

  test("q_sink_rangeparts writes one sorted file per target partition") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries("q_sink_rangeparts")(spark, sf).collect() // runs the write
    val root = new java.io.File(operators.SourceQueries.scratch(sf, "rangeparts"))
    val pidDirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pid="))
    assert(pidDirs.nonEmpty, s"no pid= directories under $root")
    pidDirs.foreach { dir =>
      val dataFiles = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.length == 1,
        s"${dir.getName}: expected exactly 1 file for the bulk loader, got ${dataFiles.length}")
      val keys = spark.read.parquet(dataFiles.head.getAbsolutePath)
        .select("o_orderkey").collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted),
        s"${dir.getName}: rows not sorted by o_orderkey within the file")
    }
  }

  test("q_sink_rangeparts writes under java.io.tmpdir, not a fixed /tmp path") {
    val sf = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft_tmpdir").toFile
    val prev = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    try {
      SparkEntry.queries("q_sink_rangeparts")(spark, sf).collect()
      val root = new java.io.File(tmp,
        s"graft_q_source_rangeparts_${sf.replaceAll("[^0-9A-Za-z]", "_")}")
      val pidDirs = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("pid="))
      assert(pidDirs.nonEmpty, s"no pid= directories under $root")
    } finally {
      System.setProperty("java.io.tmpdir", prev)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }

  test("q_sink_overwrite: dynamic partition overwrite is idempotent and scoped to the batch") {
    // The query itself computes the invariants over its own directory
    // snapshots and folds them into two boolean columns; this test
    // re-asserts them from OUTSIDE the query (so the gate can't be
    // weakened by a query edit alone) and pins the physical layout:
    //  - every year partition holds exactly ONE sorted file (the
    //    bulk-load contract shared with q_sink_rangeparts);
    //  - the batch partition (oy=1998) was rewritten by the rerun while
    //    every other partition still holds its initial-load file.
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_sink_overwrite")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(5), s"untouched_preserved=false: $r")
      assert(r.getBoolean(6), s"rerun_idempotent=false: $r")
    }
    val root = new java.io.File(operators.SourceQueries.scratch(sf, "overwrite"))
    val oyDirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("oy="))
    assert(oyDirs.length == rows.length, s"expected ${rows.length} partitions, got ${oyDirs.length}")
    oyDirs.foreach { dir =>
      val dataFiles = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.length == 1,
        s"${dir.getName}: expected exactly 1 file per partition, got ${dataFiles.length}")
      val keys = spark.read.parquet(dataFiles.head.getAbsolutePath)
        .select("o_orderkey").collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted),
        s"${dir.getName}: rows not sorted by o_orderkey within the file")
    }
    // the final table equals the base table exactly — dynamic overwrite
    // neither dropped untouched partitions (static-mode truncation)
    // nor doubled the re-run batch
    import org.apache.spark.sql.functions._
    val base = Tables.orders(spark, sf).select("o_orderkey")
    val sunk = spark.read.parquet(root.getAbsolutePath).select("o_orderkey")
    assert(sunk.count() == base.count())
    assert(sunk.exceptAll(base).count() == 0 && base.exceptAll(sunk).count() == 0)
  }

  test("q_sink_overwrite: the rerun digest covers every column — perturbing any one flips it") {
    // Round-12 ADVICE fix pinned: the rerun-idempotence digest hashes
    // FULL row content. A digest that covered only the keys would pass
    // a rerun that corrupted o_totalprice (or misrouted a row's oy)
    // and leave only file-size equality to catch it; here each
    // single-column perturbation must change the summed digest.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Seq(
      (1L, 10L, 100.25, 1997),
      (2L, 20L, 55.50, 1998),
      (3L, 30L, 7.00, 1998))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "oy")
    def digest(df: org.apache.spark.sql.DataFrame): Double = df
      .agg(sum(operators.SourceQueries.overwriteRowHash
        .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)))
        .cast("double"))
      .head().getDouble(0)
    val d0 = digest(base)
    val perturbed = Seq(
      base.withColumn("o_orderkey", when(col("o_orderkey") === 2L, 4L).otherwise(col("o_orderkey"))),
      base.withColumn("o_custkey", when(col("o_orderkey") === 2L, 21L).otherwise(col("o_custkey"))),
      base.withColumn("o_totalprice", when(col("o_orderkey") === 2L, 55.51).otherwise(col("o_totalprice"))),
      base.withColumn("oy", when(col("o_orderkey") === 2L, 1997).otherwise(col("oy"))))
    perturbed.zip(Seq("o_orderkey", "o_custkey", "o_totalprice", "oy")).foreach {
      case (df, colName) =>
        assert(digest(df) != d0, s"digest did not change when $colName was perturbed")
    }
    // and row order must NOT matter (the digest is an order-independent sum)
    assert(digest(base.orderBy(col("o_orderkey").desc)) == d0)
  }
}
