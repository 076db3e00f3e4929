package graft.gen

import java.time.{Instant, ZoneId}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateFormatter, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One bulk-load CSV line per row: the reference's line layout
  * (generate_csv.cpp:163-245), fields joined by ',' with no quoting,
  * escaping or trimming, written straight into one reused byte buffer
  * (CsvLineBuffer) and returned as one UTF8String. The generator's
  * charsets never produce ',', '"', a newline or edge whitespace.
  * `SqloadGen.writeCsvText` copies each line, with a '\n', into its
  * task's 64 KB write block.
  *
  * Field text, per type:
  *   - integers of every width: decimal digits;
  *   - float and double: C `%g` precision 6 (GFormatImpl.write);
  *   - date: `yyyy-MM-dd`; timestamp: `yyyy-MM-dd HH:mm:ss` in the
  *     session time zone, both from integer arithmetic;
  *   - decimal: plain, scale-padded, as `cast(... as string)` renders it
  *     under ANSI mode;
  *   - string: its bytes as they are;
  *   - null: an empty field.
  * Other input types fail analysis.
  */
case class CsvLineExpr(children: Seq[Expression], timeZoneId: Option[String] = None)
    extends Expression with TimeZoneAwareExpression {

  override def nullable: Boolean = false
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_csv_line"

  override def withTimeZone(timeZoneId: String): CsvLineExpr =
    copy(timeZoneId = Some(timeZoneId))

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => CsvLineExpr.put(c.dataType).isEmpty) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"graft_csv_line cannot render ${c.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    val buf = new CsvLineBuffer(zoneId)
    children.zipWithIndex.foreach { case (c, i) =>
      if (i > 0) buf.comma()
      val v = c.eval(input)
      if (v != null) c.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          buf.putLong(v.asInstanceOf[Number].longValue)
        case FloatType | DoubleType => buf.putDouble(v.asInstanceOf[Number].doubleValue)
        case DateType => buf.putDate(v.asInstanceOf[Int])
        case TimestampType => buf.putTimestamp(v.asInstanceOf[Long])
        case _: DecimalType => buf.putDecimal(v.asInstanceOf[Decimal])
        case _ => buf.putUtf8(v.asInstanceOf[UTF8String])
      }
    }
    buf.line()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one buffer per generated instance: a task's, never shared
    val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[ZoneId].getName)
    val bufClass = classOf[CsvLineBuffer].getName
    val buf = ctx.addMutableState(bufClass, "csvLine", v => s"$v = new $bufClass($zone);")
    val fields = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      val put = s"$buf.${CsvLineExpr.put(c.dataType).get}(${e.value});"
      s"""${e.code}
         |${if (i > 0) s"$buf.comma();" else ""}
         |${if (c.nullable) s"if (!${e.isNull}) $put" else put}""".stripMargin
    }
    ev.copy(code = code"""
      |$buf.reset();
      |${ctx.splitExpressionsWithCurrentInputs(fields, funcName = "csvLineFields")}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $buf.line();""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CsvLineExpr = copy(children = newChildren)
}

object CsvLineExpr {
  /** The CsvLineBuffer method that writes a field of this type. */
  private def put(t: DataType): Option[String] = t match {
    case ByteType | ShortType | IntegerType | LongType => Some("putLong")
    case FloatType | DoubleType => Some("putDouble")
    case DateType => Some("putDate")
    case TimestampType => Some("putTimestamp")
    case _: DecimalType => Some("putDecimal")
    case _: StringType => Some("putUtf8")
    case _ => None
  }
}

/** The byte buffer a task renders its CSV lines into: `reset`, one
  * `put*` per field with `comma` between, then `line` copies the row out.
  */
final class CsvLineBuffer(zone: ZoneId) {
  private var b = new Array[Byte](256)
  private var n = 0
  private val rules = zone.getRules
  private val fixedOffset =
    if (rules.isFixedOffset) rules.getOffset(Instant.EPOCH).getTotalSeconds else Int.MinValue
  // year, month and day of the last civil(); years outside 1..9999 go
  // through Spark's formatters, as the CSV source formats them
  private var y, m, d = 0L
  private lazy val dateFormat = DateFormatter("yyyy-MM-dd", isParsing = false)
  private lazy val timestampFormat =
    TimestampFormatter("yyyy-MM-dd HH:mm:ss", zone, isParsing = false)

  def reset(): Unit = n = 0

  def line(): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(b, n))

  private def room(k: Int): Unit =
    if (n + k > b.length) b = java.util.Arrays.copyOf(b, Math.max(2 * b.length, n + k))

  private def byte(c: Char): Unit = { b(n) = c.toByte; n += 1 }

  def comma(): Unit = { room(1); byte(',') }

  def putLong(v: Long): Unit = {
    room(20)
    if (v < 0) byte('-')
    // digits of -|v|, which holds Long.MinValue too
    var q = if (v < 0) v else -v
    var len = 1
    var t = q
    while (t <= -10) { t /= 10; len += 1 }
    var i = n + len - 1
    while (i >= n) { b(i) = ('0' - q % 10).toByte; q /= 10; i -= 1 }
    n += len
  }

  def putDouble(x: Double): Unit = {
    room(GFormatImpl.MaxLen)
    n = GFormatImpl.write(x, b, n)
  }

  def putUtf8(s: UTF8String): Unit = {
    val k = s.numBytes
    room(k)
    s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET + n)
    n += k
  }

  private def putText(s: String): Unit = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    room(bytes.length)
    System.arraycopy(bytes, 0, b, n, bytes.length)
    n += bytes.length
  }

  private def digits(len: Int, v: Long): Unit = {
    GFormatImpl.put(b, n, len, v)
    n += len
  }

  /** Sets y, m, d to the proleptic Gregorian date `days` after
    * 1970-01-01 (Hinnant's civil_from_days) and says whether the year
    * has four digits.
    */
  private def civil(days: Long): Boolean = {
    val z = days + 719468
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    d = doy - (153 * mp + 2) / 5 + 1
    m = if (mp < 10) mp + 3 else mp - 9
    y = yoe + era * 400 + (if (m <= 2) 1 else 0)
    y >= 1 && y <= 9999
  }

  private def putYmd(): Unit = {
    room(10)
    digits(4, y); byte('-'); digits(2, m); byte('-'); digits(2, d)
  }

  def putDate(days: Int): Unit =
    if (civil(days)) putYmd() else putText(dateFormat.format(days))

  def putTimestamp(micros: Long): Unit = {
    val sec = Math.floorDiv(micros, 1000000L)
    val off =
      if (fixedOffset != Int.MinValue) fixedOffset
      else rules.getOffset(Instant.ofEpochSecond(sec)).getTotalSeconds
    val local = sec + off
    if (!civil(Math.floorDiv(local, 86400L))) putText(timestampFormat.format(micros))
    else {
      val s = Math.floorMod(local, 86400L)
      putYmd()
      room(9)
      byte(' '); digits(2, s / 3600); byte(':'); digits(2, s / 60 % 60); byte(':'); digits(2, s % 60)
    }
  }

  def putDecimal(v: Decimal): Unit =
    if (v.precision > Decimal.MAX_LONG_DIGITS) putText(v.toPlainString)
    else if (v.scale == 0) putLong(v.toUnscaledLong)
    else {
      // |unscaled| < 10^18: integer part, point, scale-padded fraction
      val u = v.toUnscaledLong
      val p = GFormatImpl.Pow10(v.scale)
      if (u < 0) { room(1); byte('-') }
      val a = Math.abs(u)
      putLong(a / p)
      room(1 + v.scale)
      byte('.')
      digits(v.scale, a % p)
    }
}
