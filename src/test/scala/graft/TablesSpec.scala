package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.t`'s schema cache: a table read with a known schema runs no
  * footer job, and every part of the key (qualified path, length and
  * mtime, the Parquet conversion confs) keeps a read from getting a
  * schema that another file or another conf would infer differently.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs (the bus drained both sides). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc) } finally sc.removeSparkListener(l)
    jobs.get()
  }

  private def tempSf(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("tables-spec")
    dir.toFile.deleteOnExit()
    dir
  }

  private def copyTable(from: String, dir: java.nio.file.Path, as: String): Unit =
    Files.copy(Paths.get(sf, s"$from.parquet"), dir.resolve(s"$as.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  test("a table read twice infers its schema once: the second read runs no job") {
    val dir = tempSf()
    copyTable("orders", dir, "orders")
    val first = jobsDuring(Tables.orders(spark, dir.toString))
    assert(first == 1, s"the first read of a fresh file should run its footer job, ran $first")
    val second = jobsDuring(Tables.orders(spark, dir.toString))
    assert(second == 0, s"the second read ran $second jobs")
    assert(Tables.orders(spark, dir.toString).count() == Tables.orders(spark, sf).count())
  }

  test("a table rewritten at the same path is re-inferred") {
    val dir = tempSf()
    copyTable("region", dir, "x")
    assert(Tables.t(spark, dir.toString, "x").schema == spark.read.parquet(s"$sf/region.parquet").schema)
    copyTable("nation", dir, "x")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val x = Tables.t(spark, dir.toString, "x")
    assert(x.schema == nation.schema)
    assert(x.count() == nation.count())
  }

  test("the Parquet conversion confs are in the key: inferTimestampNTZ flips events.ts") {
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.getOption(conf)
    val raw = try Seq("true", "false", "true", "false").map { v =>
      spark.conf.set(conf, v)
      val cached = Tables.t(spark, sf, "events").schema
      assert(cached == spark.read.parquet(s"$sf/events.parquet").schema, s"$conf=$v")
      assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType, s"$conf=$v")
      cached("ts").dataType
    } finally saved match {
      case Some(v) => spark.conf.set(conf, v)
      case None    => spark.conf.unset(conf)
    }
    // non-vacuous: the testdata's zone-less timestamp really reads both ways
    assert(raw == Seq(TimestampNTZType, TimestampType, TimestampNTZType, TimestampType))
  }

  test("the qualified path is in the key: faulty:// and file: get separate entries") {
    val dir = tempSf()
    copyTable("region", dir, "x")
    spark.conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    try {
      Tables.t(spark, dir.toString, "x")
      val faulty = jobsDuring(Tables.t(spark, s"faulty://$dir", "x"))
      assert(faulty == 1, s"faulty:// reused the file: entry (ran $faulty jobs)")
      assert(jobsDuring(Tables.t(spark, s"faulty://$dir", "x")) == 0)
    } finally spark.conf.unset("fs.faulty.impl")
  }
}
