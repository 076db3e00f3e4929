package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.gen.SqloadGen

/** `SqloadGen.writeCsvText` against the CSV datasource over
  * `SqloadGen.textParity` (CsvOracle): the same part files, byte for
  * byte, on every type token the spec parser accepts and on values the
  * generator never makes (nulls, extremes, other time zones).
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

  /** Writes `df` both ways under a temp dir and compares the part files;
    * returns the executed plans of the `writeCsvText` write.
    */
  private def assertSameBytes(df: DataFrame, files: Int): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("graft_csv_line").toFile
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.treeString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    try {
      val lines = new File(root, "lines")
      val oracle = new File(root, "oracle")
      listeners.register(listener)
      try {
        SqloadGen.writeCsvText(df, lines.getPath)
        org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      } finally listeners.unregister(listener)
      CsvOracle.writeCsv(SqloadGen.textParity(df), oracle.getPath)
      val got = parts(lines)
      val want = parts(oracle)
      assert(got.map(_._1) == want.map(_._1))
      assert(got.size == files && got.forall(_._1.endsWith(".csv")))
      got.zip(want).foreach { case ((name, a), (_, b)) =>
        if (!java.util.Arrays.equals(a, b)) {
          val (la, lb) = (new String(a, "UTF-8").split("\n", -1), new String(b, "UTF-8").split("\n", -1))
          val i = la.indices.find(i => i >= lb.length || la(i) != lb(i)).getOrElse(la.length)
          fail(s"$name differs at line $i:\n  got  ${la.lift(i)}\n  want ${lb.lift(i)}")
        }
      }
      import scala.jdk.CollectionConverters._
      plans.asScala.toSeq
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  for (seed <- Seq(1L, 7L); n <- Seq(1, 3))
    test(s"writeCsvText matches the CSV datasource byte for byte on every type token (seed $seed, $n files)") {
      val df = SqloadGen.table(spark, EveryToken, 20000, seed, numPartitions = n)
      val plans = assertSameBytes(df, n)
      val plan = plans.find(_.contains("WriteFiles")).getOrElse(fail(s"no write plan in $plans"))
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
        dec("0.5"), dec("-0.0000000001"), "z"))
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
}
