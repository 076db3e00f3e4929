package graft.gen

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** C/C++ default float-to-text: `printf("%g")` at precision 6, the
  * format a default-constructed `std::stringstream << x` produces and
  * therefore the reference's CSV float/double text convention
  * (generate_csv.cpp:42-54; sample `-4.23e+08` in the reference
  * README). Spark's CSV sink writes the Java shortest-representation
  * instead (`-4.2300001E8` style) — domain-faithful but not
  * byte-faithful. This expression is the per-column form
  * (SqloadGen.textParity); the bulk-load row renderer (CsvLineExpr)
  * calls the same byte writer, `GFormatImpl.write`, into its row buffer.
  *
  * %g semantics implemented exactly: round the exact binary value
  * half-even to 6 significant digits (as glibc does), pick scientific
  * iff the rounded exponent X < -4 or X >= 6, strip trailing fraction
  * zeros (and a bare trailing point), exponent as sign + minimum two
  * digits. Floats widen to double first — the widening is exact, so
  * rounding to 6 significant decimal digits agrees with C++'s float
  * stream.
  */
case class GFormat6Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_gfmt6"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_gfmt6 requires FLOAT or DOUBLE input, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val d = child.dataType match {
      case FloatType => input.asInstanceOf[Float].toDouble
      case _         => input.asInstanceOf[Double]
    }
    GFormatImpl.g6(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.gen.GFormatImpl.g6((double)$c)")

  override protected def withNewChildInternal(newChild: Expression): GFormat6Expr =
    copy(child = newChild)
}

object GFormatImpl {

  private[gen] val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  private val Six = new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN)

  /** The longest `%g` text, `-1.23456e-308`, in bytes. */
  val MaxLen = 13

  /** `%g` with precision 6 as a fresh UTF8String: `write` into its own
    * buffer.
    */
  def g6(x: Double): UTF8String = {
    val b = new Array[Byte](MaxLen)
    UTF8String.fromBytes(b, 0, write(x, b, 0))
  }

  /** `g6` as a String. */
  def g6s(x: Double): String = g6(x).toString

  /** Writes `%g` with precision 6, matching glibc printf / C++
    * defaultfloat, into `b` from `at` and returns the end. The exact
    * binary value is rounded half-even to six significant digits. A NaN
    * with its sign bit set prints `-nan`, as glibc prints it. `b` needs
    * `MaxLen` bytes free from `at`.
    */
  def write(x: Double, b: Array[Byte], at: Int): Int = {
    if (java.lang.Double.isNaN(x))
      return ascii(if (java.lang.Double.doubleToRawLongBits(x) < 0) "-nan" else "nan", b, at)
    if (x == java.lang.Double.POSITIVE_INFINITY) return ascii("inf", b, at)
    if (x == java.lang.Double.NEGATIVE_INFINITY) return ascii("-inf", b, at)
    if (x == 0.0) return ascii(if (1.0 / x < 0) "-0" else "0", b, at)
    val a = Math.abs(x)
    var q = 0L // the six rounded digits, 100000..999999
    var e = 0  // decimal exponent of the first digit, after rounding
    if (a >= 1e5 && a < 9.223372036854775807e18) {
      // |x| = i + frac with frac exact; digits below the sixth are
      // r + frac out of p, compared with p/2 exactly in integers.
      val i = a.toLong
      val frac = a - i
      e = 5
      while (e < 18 && i >= Pow10(e + 1)) e += 1
      val p = Pow10(e - 5)
      q = i / p
      val r = i - q * p
      val up =
        if (p == 1) frac > 0.5 || (frac == 0.5 && (q & 1) == 1)
        else { val h = p >> 1; r > h || (r == h && (frac > 0 || (q & 1) == 1)) }
      if (up) {
        q += 1
        if (q == 1000000) { q = 100000; e += 1 }
      }
    } else {
      // new BigDecimal(double) is the exact binary value
      val r = new java.math.BigDecimal(a).round(Six)
      q = r.unscaledValue.longValue * Pow10(6 - r.precision)
      e = r.precision - r.scale - 1
    }
    layout(x < 0, q, e, b, at)
  }

  private def ascii(s: String, b: Array[Byte], at: Int): Int = {
    var i = 0
    while (i < s.length) { b(at + i) = s.charAt(i).toByte; i += 1 }
    at + s.length
  }

  /** Writes `%g`'s layout of the digits `q` (six of them) with first-digit
    * exponent `e` into `b` from `at` and returns the end: scientific iff
    * e < -4 or e >= 6, trailing fraction zeros and a bare point stripped,
    * exponent as sign + at least two digits. `%g`'s fixed style is
    * precision 5-e over the already rounded value, so moving the point
    * through the six digits is exact.
    */
  private def layout(neg: Boolean, q0: Long, e: Int, b: Array[Byte], at: Int): Int = {
    var q = q0
    var nd = 6
    while (q % 10 == 0) { q /= 10; nd -= 1 }
    val s = if (neg) { b(at) = '-'.toByte; at + 1 } else at
    if (e < -4 || e >= 6) {
      val ea = Math.abs(e)
      val ed = if (ea >= 100) 3 else 2
      val m = if (nd > 1) nd + 1 else 1
      if (nd > 1) {
        b(s) = ('0' + put(b, s + 2, nd - 1, q)).toByte
        b(s + 1) = '.'.toByte
      } else b(s) = ('0' + q).toByte
      b(s + m) = 'e'.toByte
      b(s + m + 1) = (if (e < 0) '-' else '+').toByte
      put(b, s + m + 2, ed, ea)
      s + m + 2 + ed
    } else if (e >= 0) {
      val fd = nd - e - 1
      if (fd > 0) {
        put(b, s, e + 1, put(b, s + e + 2, fd, q))
        b(s + e + 1) = '.'.toByte
        s + e + 2 + fd
      } else {
        put(b, s, nd, q)
        java.util.Arrays.fill(b, s + nd, s + e + 1, '0'.toByte)
        s + e + 1
      }
    } else {
      b(s) = '0'.toByte
      b(s + 1) = '.'.toByte
      java.util.Arrays.fill(b, s + 2, s + 1 - e, '0'.toByte)
      put(b, s + 1 - e, nd, q)
      s + 1 - e + nd
    }
  }

  /** Writes the low `n` decimal digits of `v` into `b(from until from + n)`
    * and returns what is left of `v`.
    */
  private[gen] def put(b: Array[Byte], from: Int, n: Int, v: Long): Long = {
    var q = v
    var i = from + n - 1
    while (i >= from) { b(i) = ('0' + q % 10).toByte; q /= 10; i -= 1 }
    q
  }
}
