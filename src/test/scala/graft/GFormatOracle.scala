package graft

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

/** Reference `%g` at precision 6 for GFormatSpec's sweeps, built only
  * from BigDecimal: the exact binary value (`new BigDecimal(double)`)
  * rounded half-even to six significant digits, as glibc printf does,
  * then laid out through BigDecimal's own string forms. It shares no
  * code with GFormatImpl, and is far slower.
  */
object GFormatOracle {

  private val Six = new MathContext(6, RoundingMode.HALF_EVEN)

  def g6(x: Double): String =
    if (x.isNaN) if (java.lang.Double.doubleToRawLongBits(x) < 0) "-nan" else "nan"
    else if (x.isInfinite) if (x > 0) "inf" else "-inf"
    else if (x == 0.0) if (1.0 / x < 0) "-0" else "0"
    else {
      val r = new JBigDecimal(x).round(Six)
      val e = r.precision - r.scale - 1
      if (e < -4 || e >= 6) {
        val a = math.abs(e)
        r.movePointLeft(e).stripTrailingZeros.toPlainString +
          (if (e < 0) "e-" else "e+") + (if (a < 10) "0" else "") + a
      } else r.stripTrailingZeros.toPlainString
    }
}
