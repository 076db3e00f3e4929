package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.{GFormat6Expr, GFormatImpl, SqloadGen}

/** Pins GFormatImpl.g6s to C/C++ `%g` precision-6 semantics — the
  * reference's CSV float/double text convention (generate_csv.cpp:
  * 42-54). Expected strings below are what gcc's `printf("%g", x)`
  * prints (glibc rounds the exact binary value half-even; Python's
  * `"%g" % x` does not always agree), covering both styles, the
  * style-switch boundaries (rounding ACROSS 1e+06), trailing-zero
  * stripping, signed zero, half-even ties, and the reference README's
  * own sample values (-4.23e+08, -1.19068e+09). The C fixture
  * (`tools/gformat_fixture.py`) and the BigDecimal oracle sweep
  * (GFormatOracle) cover the rest of the double range.
  */
class GFormatSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val pinned: Seq[(Double, String)] = Seq(
    (0.0, "0"),
    (-0.0, "-0"),
    (1.0, "1"),
    (-1.0, "-1"),
    (0.5, "0.5"),
    (123456.0, "123456"),
    (999999.0, "999999"),
    (1000000.0, "1e+06"),
    (0.0001, "0.0001"),
    (9.999994e-05, "9.99999e-05"),
    (-423000000.0, "-4.23e+08"),
    (1234.56789, "1234.57"),
    (999999.4999, "999999"),
    (999999.5001, "1e+06"), // rounds to 6 sig digits FIRST, then picks style
    (1e-05, "1e-05"),
    (-1190680000.0, "-1.19068e+09"),
    (2147483647.0, "2.14748e+09"),
    (-2147483648.0, "-2.14748e+09"),
    (1.5e-05, "1.5e-05"),
    (3.402823e+38, "3.40282e+38"),
    (123456789.123, "1.23457e+08"),
    (0.000123456789, "0.000123457"),
    (7.0, "7"),
    (-0.125, "-0.125"),
    (-756632513.6683087, "-7.56633e+08"),
    (-1499591379.3656483, "-1.49959e+09"),
    (648258625.5451655, "6.48259e+08"),
    (-1836372165.719223, "-1.83637e+09"),
    (154112035.01216125, "1.54112e+08"),
    (-576861709.3507838, "-5.76862e+08"),
    (-1898380162.88947, "-1.89838e+09"),
    (31936230.870341778, "3.19362e+07"),
    (-1986441021.2496886, "-1.98644e+09"),
    (-284989618.6184912, "-2.8499e+08"), // trailing zero stripped in mantissa
    (-1847456888.2987843, "-1.84746e+09"),
    (-1757874222.366488, "-1.75787e+09"),
    (-324187614.10846424, "-3.24188e+08"),
    (1403819186.0945182, "1.40382e+09"),
    (-1615758273.6816096, "-1.61576e+09"),
    (-1188679595.819971, "-1.18868e+09"),
    (2.548664448111786e-10, "2.54866e-10"),
    (15.420589723499734, "15.4206"),
    (-0.0009008213732204571, "-0.000900821"),
    (-9.068346387644874e-07, "-9.06835e-07"),
    (-4.2078142733664745e-07, "-4.20781e-07"),
    (8137177.106428495, "8.13718e+06"),
    (-3.830363517961313e-06, "-3.83036e-06"),
    (-79388857.51128173, "-7.93889e+07"),
    // half-even ties of the exact binary value, as glibc rounds them
    (1000005.0, "1e+06"),
    (1234565000.0, "1.23456e+09"),
    (123456.5, "123456"),
    (-55.47105, "-55.471"),
    (0.1234565, "0.123456"),
    (-714.0065, "-714.006"),
    (-6874725000.0, "-6.87472e+09"))

  test("g6s matches C printf %g on the pinned table") {
    pinned.foreach { case (x, want) =>
      assert(GFormatImpl.g6s(x) == want, s"for input $x")
    }
  }

  test("g6s special values follow the C stream spellings") {
    assert(GFormatImpl.g6s(Double.NaN) == "nan")
    assert(GFormatImpl.g6s(Double.PositiveInfinity) == "inf")
    assert(GFormatImpl.g6s(Double.NegativeInfinity) == "-inf")
  }

  test("a NaN with its sign bit set prints -nan, as glibc prints it") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.DoubleType
    val negNan = java.lang.Double.longBitsToDouble(0xfff8000000000000L)
    val nan = java.lang.Double.longBitsToDouble(0x7ff8000000000000L)
    assert(GFormatImpl.g6s(negNan) == "-nan")
    assert(GFormatImpl.g6s(nan) == "nan")
    // through GFormat6Expr's generated code, over a row that keeps the bits
    val proj = GenerateUnsafeProjection.generate(
      Seq(GFormat6Expr(BoundReference(0, DoubleType, nullable = false))))
    assert(proj(InternalRow(negNan)).getUTF8String(0).toString == "-nan")
    assert(proj(InternalRow(nan)).getUTF8String(0).toString == "nan")
  }

  test("parse(g6s(x)) re-formats to the same text (6 <= DBL_DIG identity)") {
    val rnd = new scala.util.Random(11)
    (0 until 5000).foreach { _ =>
      val x = (rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(20) - 8)
      val t = GFormatImpl.g6s(x)
      assert(GFormatImpl.g6s(t.toDouble) == t, s"for input $x")
    }
  }

  test("g6 and the oracle match gcc printf %g byte for byte on the C fixture") {
    val in = getClass.getResourceAsStream("/gformat_fixture.tsv")
    assert(in != null, "gformat_fixture.tsv is not on the test classpath")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    assert(lines.size > 5000)
    val bad = lines.filter { l =>
      val Array(hex, want) = l.split('\t')
      val x = java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(hex, 16))
      !java.util.Arrays.equals(GFormatImpl.g6(x).getBytes, want.getBytes("UTF-8")) ||
        GFormatOracle.g6(x) != want
    }
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.take(5).mkString("; ")}")
  }

  test("g6 agrees with the BigDecimal half-even oracle on 2M mixed doubles") {
    val bad = GFormatSpec.sweep(2000000, seed = 5L)
    assert(bad.isEmpty, s"first mismatches (bits, got, oracle): ${bad.mkString("; ")}")
  }

  test("GFormat6Expr agrees with g6s through codegen on generated doubles") {
    import org.apache.spark.sql.graft.ColumnBridge
    val df = SqloadGen.table(spark, "double,float", 2000)
    val got = df.select(
        col("c0"), col("c1"),
        ColumnBridge.column(GFormat6Expr(ColumnBridge.expression(col("c0")))).as("gd"),
        ColumnBridge.column(GFormat6Expr(ColumnBridge.expression(col("c1")))).as("gf"))
      .collect()
    got.foreach { r =>
      assert(r.getString(2) == GFormatImpl.g6s(r.getDouble(0)))
      assert(r.getString(3) == GFormatImpl.g6s(r.getFloat(1).toDouble))
    }
  }

  test("GFormat6Expr rejects non-float input at analysis time") {
    import org.apache.spark.sql.graft.ColumnBridge
    val df = spark.range(1)
    intercept[Exception] {
      df.select(ColumnBridge.column(
        GFormat6Expr(ColumnBridge.expression(col("id"))))).collect()
    }
  }
}

object GFormatSpec {

  /** Compares GFormatImpl.g6 with GFormatOracle on `n` doubles drawn in
    * equal shares from the generator's ±2^31 column, 7-digit decimals
    * ending in 5 at exponents -306..294, integer ties d5·10^k (exact
    * below 2^53) and q + 0.5, finite random bit patterns and floats
    * widened to double.
    * Four threads draw a quarter each. Returns up to five mismatches
    * per thread.
    */
  def sweep(n: Int, seed: Long): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val parts = (0 until 4).map(t => Future(sweepPart(n / 4, seed * 4 + t)))
    parts.flatMap(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  private def sweepPart(n: Int, seed: Long): Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    def finite(bits: => Double): Double = {
      var x = bits
      while (x.isNaN || x.isInfinite) x = bits
      x
    }
    val bad = Seq.newBuilder[String]
    var found = 0
    var i = 0
    while (i < n && found < 5) {
      val x = i % 5 match {
        case 0 => ((r.nextLong() >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0) * 2147483648.0
        case 1 =>
          val d = (100000 + r.nextInt(900000)) * 10L + 5
          val s = s"${d}e${r.nextInt(601) - 306}".toDouble
          if (r.nextBoolean()) -s else s
        case 2 =>
          if (r.nextBoolean()) ((100000 + r.nextInt(900000)) * 10L + 5).toDouble * math.pow(10, r.nextInt(10))
          else (100000 + r.nextInt(900000)) + 0.5
        case 3 => finite(java.lang.Double.longBitsToDouble(r.nextLong()))
        case _ => finite(java.lang.Float.intBitsToFloat(r.nextInt()).toDouble)
      }
      val got = GFormatImpl.g6s(x)
      val want = GFormatOracle.g6(x)
      if (got != want) {
        bad += f"${java.lang.Double.doubleToRawLongBits(x)}%016x $got $want"
        found += 1
      }
      i += 1
    }
    bad.result()
  }
}
