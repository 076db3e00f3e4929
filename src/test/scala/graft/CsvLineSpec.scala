package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, raise_error, udf, when}
import org.apache.spark.sql.types._
import graft.gen.SqloadGen

/** `SqloadGen.writeCsvText` against the CSV datasource over
  * `SqloadGen.textParity` (CsvOracle): the same part files, byte for
  * byte, on every type token the spec parser accepts and on values the
  * generator never makes (nulls, extremes, other time zones). Then the
  * writer's own job: empty partitions, a failed load, a re-run, its
  * output metrics and a retried task.
  */
class CsvLineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val EveryToken = Seq(
    "key,rkey,bit,tinyint,smallint,mediumint,int(11),bigint,float,double",
    "char(7),nchar(3),varchar(13),varchar2(5),nvarchar2(4),text,blob",
    "date,datetime,timestamp,time,year",
    "decimal(10,2),number(10,2),decimal,decimal(20,12),decimal(45,40),foo").mkString(",")

  /** Part files by name, less the write's job id, with their bytes. */
  private def parts(dir: File): Seq[(String, Array[Byte])] =
    dir.listFiles().toSeq.filter(_.getName.startsWith("part-")).map { f =>
      f.getName.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "") ->
        Files.readAllBytes(f.toPath)
    }.sortBy(_._1)

  private def withRoot[T](body: File => T): T = {
    val root = Files.createTempDirectory("graft_csv_line").toFile
    try body(root) finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  /** Every file under `dir` with its bytes, by path relative to `dir`. */
  private def tree(dir: File): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    org.apache.commons.io.FileUtils.listFiles(dir, null, true).asScala.map { f =>
      dir.toPath.relativize(f.toPath).toString -> Files.readAllBytes(f.toPath).toSeq
    }.toMap
  }

  /** Compares the part files `writeCsvText` left in `got` with the CSV
    * datasource's over the same rows, written beside it.
    */
  private def assertOracleFiles(got: File, df: DataFrame, files: Int): Unit = {
    val oracle = new File(got.getParentFile, got.getName + "_oracle")
    CsvOracle.writeCsv(SqloadGen.textParity(df), oracle.getPath)
    val have = parts(got)
    val want = parts(oracle)
    assert(have.map(_._1) == want.map(_._1))
    assert(have.size == files && have.forall(_._1.endsWith(".csv")))
    have.zip(want).foreach { case ((name, a), (_, b)) =>
      if (!java.util.Arrays.equals(a, b)) {
        val (la, lb) = (new String(a, "UTF-8").split("\n", -1), new String(b, "UTF-8").split("\n", -1))
        val i = la.indices.find(i => i >= lb.length || la(i) != lb(i)).getOrElse(la.length)
        fail(s"$name differs at line $i:\n  got  ${la.lift(i)}\n  want ${lb.lift(i)}")
      }
    }
    assert(new File(got, "_SUCCESS").isFile)
  }

  /** Writes `df` both ways under a temp dir and compares the part files;
    * returns the executed plans of the SQL executions the write ran.
    */
  private def assertSameBytes(df: DataFrame, files: Int): Seq[String] = withRoot { root =>
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "writeCsvText") plans.add(qe.executedPlan.treeString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    val lines = new File(root, "lines")
    listeners.register(listener)
    try {
      SqloadGen.writeCsvText(df, lines.getPath)
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
    } finally listeners.unregister(listener)
    assertOracleFiles(lines, df, files)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  for (seed <- Seq(1L, 7L); n <- Seq(1, 3))
    test(s"writeCsvText matches the CSV datasource byte for byte on every type token (seed $seed, $n files)") {
      val df = SqloadGen.table(spark, EveryToken, 20000, seed, numPartitions = n)
      val plans = assertSameBytes(df, n)
      assert(plans.size == 1, plans)
      val plan = plans.head
      assert(plan.contains("Range") && !plan.contains("Exchange") && !plan.contains("Sort "), plan)
    }

  test("writeCsvText matches the CSV datasource on nulls, extremes and other time zones") {
    import java.time.{Instant, LocalDate}
    val schema = StructType(Seq(
      ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType, DateType,
      TimestampType, DecimalType(10, 2), DecimalType(18, 18), DecimalType(38, 10), StringType
    ).zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    def ts(s: String) = Instant.parse(s)
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row(null, null, null, null, null, null, null, null, null, null, null, null),
      Row(Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue, Float.MinValue,
        Double.MinValue, LocalDate.of(1, 1, 1), ts("1883-11-18T12:00:00Z"),
        dec("-0.50"), dec("-0.000000000000000001"), dec("-1234567890123456789012345678.1234567890"), ""),
      Row(Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue, Float.MaxValue,
        Double.MaxValue, LocalDate.of(9999, 12, 31), ts("1969-12-31T23:59:59.999999Z"),
        dec("99999999.99"), dec("0.999999999999999999"), dec("0E-10"), "héllo ✓"),
      Row(0.toByte, 0.toShort, 0, 0L, -0.0f, Double.NaN, LocalDate.of(10000, 1, 1),
        ts("+10000-01-01T00:00:00Z"), dec("0.00"), dec("0E-18"), dec("1E+27"), "a"),
      Row(1.toByte, -1.toShort, 7, -7L, Float.PositiveInfinity, Double.NegativeInfinity,
        LocalDate.of(1582, 10, 4), ts("2021-03-14T10:30:00Z"), dec("-12.30"),
        dec("0.5"), dec("-0.0000000001"), "z"),
      // one line longer than the writer's 64 KB block
      Row.fromSeq(Seq.fill(11)(null) :+ "é" * 40000))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val conf = spark.conf
    val zone = conf.get("spark.sql.session.timeZone")
    try {
      for (z <- Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")) {
        conf.set("spark.sql.session.timeZone", z)
        assertSameBytes(df, 2)
      }
      // the interpreted path (CsvLineExpr.eval) renders the same bytes
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assertSameBytes(df, 2)
    } finally {
      conf.set("spark.sql.session.timeZone", zone)
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("writeCsvText refuses a column type it cannot render") {
    val root = Files.createTempDirectory("graft_csv_line").toFile
    try intercept[Exception] {
      SqloadGen.writeCsvText(spark.range(3).selectExpr("id % 2 = 0 AS b"), root.getPath)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  for ((rows, files) <- Seq(2L -> 3, 0L -> 1))
    test(s"writeCsvText writes the CSV datasource's file set for $rows rows in 4 partitions") {
      assertSameBytes(SqloadGen.table(spark, "key,int,double", rows, 1L, numPartitions = 4), files)
    }

  test("a failed load leaves the previous output as it was, and no staging or part file") {
    withRoot { root =>
      val out = new File(root, "lines")
      val df = SqloadGen.table(spark, "key,int,varchar(20),double", 20000, 3L, numPartitions = 4)
      SqloadGen.writeCsvText(df, out.getPath)
      val before = tree(out)
      val failing = df.withColumn("c1",
        when(col("c0") === 12345, raise_error(lit("injected"))).otherwise(col("c1")))
      intercept[Exception](SqloadGen.writeCsvText(failing, out.getPath))
      assert(tree(out) == before)
      assert(root.list().toSeq == Seq("lines"))
    }
  }

  test("a re-run over an existing output replaces it") {
    withRoot { root =>
      val out = new File(root, "lines")
      SqloadGen.writeCsvText(SqloadGen.table(spark, EveryToken, 3000, 1L, numPartitions = 3), out.getPath)
      val df = SqloadGen.table(spark, EveryToken, 2000, 2L, numPartitions = 2)
      SqloadGen.writeCsvText(df, out.getPath)
      assertOracleFiles(out, df, 2)
      // two part files, _SUCCESS and a .crc of each
      assert(out.list().length == 6)
      assert(root.list().sorted.toSeq == Seq("lines", "lines_oracle"))
    }
  }

  test("the write tasks' output metrics add up to the rows and the part files' bytes") {
    withRoot { root =>
      val out = new File(root, "lines")
      val sc = spark.sparkContext
      val bytes, records = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
          bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
          records.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
        }
      }
      sc.addSparkListener(listener)
      val report = try {
        val r = SqloadGen.writeCsvText(SqloadGen.table(spark, EveryToken, 20000, 5L, numPartitions = 3), out.getPath)
        org.apache.spark.sql.graft.ListenerBridge.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
      val fileBytes = out.listFiles().filter(_.getName.startsWith("part-")).map(_.length).sum
      assert(report == SqloadGen.LoadReport(20000, fileBytes, 3))
      assert(records.get == 20000 && bytes.get == fileBytes)
    }
  }

  // local[4] fails a job on its first task failure, so this test runs on
  // its own local[4,2] context; it is the last test and stops that
  // context, and the next suite's getOrCreate builds the usual one
  test("under a task retry only the successful attempt's file lands") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val retrying = SparkSession.builder()
      .master("local[4,2]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try withRoot { root =>
      val out = new File(root, "lines")
      val df = SqloadGen.table(retrying, EveryToken, 20000, 9L, numPartitions = 4)
      // the first attempt of the last task fails some 600 KB into its file
      val failOnce = udf { (k: Long) =>
        if (k == 17000 && TaskContext.get().attemptNumber() == 0) {
          CsvLineSpec.injected.incrementAndGet()
          throw new RuntimeException("injected")
        }
        k
      }
      SqloadGen.writeCsvText(df.withColumn("c0", failOnce(col("c0"))), out.getPath)
      assert(CsvLineSpec.injected.get == 1)
      assertOracleFiles(out, df, 4)
      assert(root.list().sorted.toSeq == Seq("lines", "lines_oracle"))
    } finally retrying.stop()
  }
}

object CsvLineSpec {
  val injected = new AtomicLong
}
