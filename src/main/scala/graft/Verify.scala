package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Output-boundary normalization for the driver's pandas comparator.
    *
    * The driver reads the Spark result parquet via pandas (decimals
    * surface as `Decimal('13096.00')` objects) but the DuckDB oracle via
    * `.df()` (decimals surface as float64) — identical values, different
    * renderings, hash mismatch. Queries aggregate in exact DECIMAL for
    * order-independence (Tables.scala rule 1) and this single cast at
    * the write boundary converts the exact result to the float64 the
    * comparator sees from DuckDB. The cast is deterministic: the decimal
    * value is exact, and decimal→double is correctly rounded in both
    * engines.
    *
    * Array/map/struct outputs are NOT auto-fixed (the oracle SQL side
    * can't be rewritten mechanically) — queries must emit them as joined
    * strings; InventorySpec enforces that.
    */
  def sanitize(df: DataFrame): DataFrame = {
    val needsCast = df.schema.fields.exists(_.dataType.isInstanceOf[DecimalType])
    if (!needsCast) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case _              => col(f.name)
      }
    }.toSeq: _*)
  }
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try sanitize(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
