package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-insensitive digest of every row and every column of a result. */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = f"$rows:$sum%016x"
}

object Digest {

  /** Materialises `df` exactly as its physical plan stands — all columns,
    * all rows, the final sort included — and digests it on the way out.
    * `count()` would let Catalyst prune columns and drop the sort, timing
    * a different program than the user's.
    */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var s = 0L
        val sb = new java.lang.StringBuilder
        it.foreach { row =>
          sb.setLength(0)
          canonRow(row, types, sb)
          val b = sb.toString.getBytes(UTF_8)
          s += XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
          n += 1
        }
        Iterator.single((n, s))
      }.collect()
    }
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Doubles are compared at 12 significant digits: a sum whose partial
    * aggregates merge in another order may differ in its last bits.
    */
  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) java.lang.Double.toString(d)
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString

  private def canonRow(row: InternalRow, types: Array[DataType], sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < types.length) {
      if (i > 0) sb.append('\u001f')
      canon(if (row.isNullAt(i)) null else row.get(i, types(i)), types(i), sb)
      i += 1
    }
  }

  private def canon(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit = (v, dt) match {
    case (null, _) => sb.append("\u0000null")
    case (d: Double, _) => sb.append(canonDouble(d))
    case (f: Float, _) => sb.append(canonDouble(f.toDouble))
    case (b: Array[Byte], _) => b.foreach(x => sb.append(f"$x%02x"))
    case (a: ArrayData, ArrayType(et, _)) => canonArray(a, et, sb)
    case (m: MapData, MapType(kt, vt, _)) =>
      sb.append('{'); canonArray(m.keyArray(), kt, sb)
      sb.append("=>"); canonArray(m.valueArray(), vt, sb); sb.append('}')
    case (r: InternalRow, st: StructType) =>
      sb.append('('); canonRow(r, st.fields.map(_.dataType), sb); sb.append(')')
    case _ => sb.append(v.toString)
  }

  private def canonArray(a: ArrayData, et: DataType, sb: java.lang.StringBuilder): Unit = {
    sb.append('[')
    var i = 0
    while (i < a.numElements()) {
      if (i > 0) sb.append(',')
      canon(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
      i += 1
    }
    sb.append(']')
  }
}
