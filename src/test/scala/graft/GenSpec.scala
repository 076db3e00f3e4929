package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.SqloadGen

/** Domain-invariant tests for the deterministic generator — one assertion
  * block per reference generator family (SURVEY.md §5.2.1; domains from
  * /root/reference/generate_csv.cpp:31-147,197-241).
  */
class GenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val N = 10000L

  test("key is gapless and strictly increasing from 0") {
    val df = SqloadGen.table(spark, "key", N)
    val r = df.agg(min("c0"), max("c0"), countDistinct("c0")).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == N - 1 && r.getLong(2) == N)
  }

  test("rkey matches the reference sequence and is unique") {
    val first4 = SqloadGen.table(spark, "key,rkey", 4).orderBy("c0")
      .select("c1").collect().map(_.getLong(0)).toSeq
    // reference run: 9223372036854775808, 1, 9223372036854775809, 256
    // (README.md:5 semantics; unsigned → two's-complement signed)
    assert(first4 == Seq(Long.MinValue, 1L, Long.MinValue + 1, 256L))
    val distinct = SqloadGen.table(spark, "rkey", N).agg(countDistinct("c0")).head().getLong(0)
    assert(distinct == N)
  }

  test("integer domains: bit/tinyint/smallint/mediumint/year") {
    val df = SqloadGen.table(spark, "bit,tinyint,smallint,mediumint,year", N)
    val r = df.agg(
      min("c0"), max("c0"),
      min("c1"), max("c1"),
      min("c2"), max("c2"),
      min("c3"), max("c3"),
      min("c4"), max("c4")).head()
    assert(r.getInt(0) >= 0 && r.getInt(1) <= 1)
    assert(r.getByte(2) >= -128 && r.getByte(3) <= 127)
    assert(r.getShort(4) >= -32768 && r.getShort(5) <= 32767)
    assert(r.getInt(6) >= -8388608 && r.getInt(7) <= 8388607)
    assert(r.getInt(8) >= 1901 && r.getInt(9) <= 2155)
  }

  test("double domain is ±2^31 (the live dispatch range, not ±1e308)") {
    val r = SqloadGen.table(spark, "double", N).agg(min("c0"), max("c0")).head()
    assert(r.getDouble(0) >= -2147483648.0 && r.getDouble(1) < 2147483648.0)
  }

  test("char is A-Z of exact length; varchar alphanumeric of exact length") {
    val df = SqloadGen.table(spark, "char(7),varchar(13)", N)
    val bad = df.filter(
      !col("c0").rlike("^[A-Z]{7}$") || !col("c1").rlike("^[0-9A-Za-z]{13}$")
    ).count()
    assert(bad == 0L)
  }

  test("text/blob length 1-256 over the varchar charset") {
    val df = SqloadGen.table(spark, "text,blob", N)
    val bad = df.filter(
      !col("c0").rlike("^[0-9A-Za-z]{1,256}$") || !col("c1").rlike("^[0-9A-Za-z]{1,256}$")
    ).count()
    assert(bad == 0L)
    // lengths actually vary
    val lens = df.select(countDistinct(length(col("c0")))).head().getLong(0)
    assert(lens > 100)
  }

  test("temporal domains: date/datetime years 1900-2021 day<=28; timestamp in [1, now]") {
    val df = SqloadGen.table(spark, "date,datetime,timestamp,time", N)
    val r = df.agg(
      min(year(col("c0"))), max(year(col("c0"))), max(dayofmonth(col("c0"))),
      min(year(col("c1"))), max(year(col("c1"))), max(dayofmonth(col("c1"))),
      min(unix_timestamp(col("c2"))), max(unix_timestamp(col("c2")))).head()
    assert(r.getInt(0) >= 1900 && r.getInt(1) <= 2021 && r.getInt(2) <= 28)
    assert(r.getInt(3) >= 1900 && r.getInt(4) <= 2021 && r.getInt(5) <= 28)
    assert(r.getLong(6) >= 1L && r.getLong(7) <= graft.gen.GenExprs.DefaultNowEpoch)
    val badTime = df.filter(!col("c3").rlike("^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]$")).count()
    assert(badTime == 0L)
  }

  test("decimal(10,2): non-negative, < 10^8, exactly 2 fraction digits") {
    val df = SqloadGen.table(spark, "decimal(10,2)", N)
    val r = df.agg(min("c0"), max("c0")).head()
    assert(r.getDecimal(0).signum() >= 0)
    assert(r.getDecimal(1).doubleValue() < 1e8)
    assert(df.schema.head.dataType == org.apache.spark.sql.types.DecimalType(10, 2))
  }

  test("decimal(5,5): scale == precision generates 0.xxxxx without ANSI overflow") {
    val df = SqloadGen.table(spark, "decimal(5,5)", N)
    assert(df.schema.head.dataType == org.apache.spark.sql.types.DecimalType(5, 5))
    val r = df.agg(min("c0"), max("c0")).head()
    assert(r.getDecimal(0).signum() >= 0)
    assert(r.getDecimal(1).doubleValue() < 1.0) // int part is always 0
  }

  test("decimal(45,40): precision above 38 clamps int digits to the clamped type's room") {
    // spec allows 5 integer digits but the clamped DecimalType(38,37)
    // only 1 — the draw must respect the CLAMPED room or the cast
    // overflows under ANSI
    val df = SqloadGen.table(spark, "decimal(45,40)", N)
    assert(df.schema.head.dataType == org.apache.spark.sql.types.DecimalType(38, 37))
    val r = df.agg(min("c0"), max("c0")).head()
    assert(r.getDecimal(0).signum() >= 0)
    assert(r.getDecimal(1).doubleValue() < 10.0) // 1 integer digit max
  }

  test("decimal(2,5): parser bumps precision to scale (reference fixup), generates 0.xxxxx") {
    val df = SqloadGen.table(spark, "decimal(2,5)", N)
    assert(df.schema.head.dataType == org.apache.spark.sql.types.DecimalType(5, 5))
    val mx = df.agg(max("c0")).head().getDecimal(0)
    assert(mx.doubleValue() < 1.0)
  }

  test("decimal(10) quirk: keeps default (16,6)") {
    val df = SqloadGen.table(spark, "decimal(10)", 10)
    assert(df.schema.head.dataType == org.apache.spark.sql.types.DecimalType(16, 6))
  }

  test("unknown type emits an empty string column") {
    val df = SqloadGen.table(spark, "foo,int", 10)
    assert(df.select("c0").distinct().collect().map(_.getString(0)).toSeq == Seq(""))
  }

  test("determinism: same seed ⇒ identical data regardless of partitioning") {
    def rows(parts: Int): Seq[String] =
      SqloadGen.table(spark, "key,int,varchar(8),double,datetime", 5000, seed = 7, numPartitions = parts)
        .orderBy("c0")
        .select(concat_ws("|", col("c0"), col("c1"), col("c2"), col("c3"), col("c4")))
        .collect().map(_.getString(0)).toSeq
    assert(rows(1) == rows(16))
  }

  test("generator fingerprint sees a duplicated row pair that the XOR fold cancels") {
    import spark.implicits._
    val one = Seq("a").toDF("c0")
    val three = Seq("a", "b", "b").toDF("c0")
    // the bit_xor(xxhash64) fold q_gen_parquet and q_gen_determinism used
    def xor(df: DataFrame) =
      df.select(xxhash64(col("c0")).as("h")).agg(expr("bit_xor(h)")).head().getLong(0)
    assert(xor(one) == xor(three))
    def fp(df: DataFrame) = {
      val r = graft.operators.GenQueries.fingerprint(df).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val (n1, f1) = fp(one)
    val (n3, f3) = fp(three)
    assert(n1 == 1L && n3 == 3L)
    assert(f1 != f3)
  }

  test("different seeds ⇒ different data") {
    def one(seed: Long) = SqloadGen.table(spark, "int", 100, seed).collect().map(_.getInt(0)).toSeq
    assert(one(1) != one(2))
  }

  test("CSV round-trip: write then re-read with the declared schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_test_csv").toFile
    val out = dir.getPath
    try {
      val df = SqloadGen.table(spark, "key,int,varchar(10),date", 1000, seed = 3)
      CsvOracle.writeCsv(df, out)
      val back = spark.read
        .schema(df.schema)
        .option("header", "false")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(out)
      assert(back.count() == 1000)
      assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
