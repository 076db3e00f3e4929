package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Tier A engine surface: type-spec string → deterministic DataFrame →
  * CSV/Parquet bulk-load output.
  *
  * Mirrors the reference CLI contract (`./generate_csv N "spec"`,
  * /root/reference/generate_csv.cpp:355-376) as a library:
  * `SqloadGen.table(spark, spec, rows, seed)`.
  *
  * Scale posture: the plan is Range → Project → WriteFiles — narrow,
  * shuffle-free, whole-stage-codegen'd. Each task generates and writes its
  * own id range independently, so 100 TB output is a matter of task count.
  * `numPartitions` controls parallelism; for partitioned-DB bulk load
  * (OceanBase-style), `writeCsvPartitioned` range-partitions on the key
  * column so each output file maps to one target partition.
  */
object SqloadGen {

  /** Generate `rows` rows of the given type-spec, fully determined by
    * (spec, rows, seed) and invariant under `numPartitions`.
    */
  def table(spark: SparkSession, spec: String, rows: Long, seed: Long = 42L,
            numPartitions: Int = 0,
            nowEpoch: Long = GenExprs.DefaultNowEpoch): DataFrame = {
    val specs = TypeSpecParser.parse(spec)
    val base =
      if (numPartitions > 0) spark.range(0L, rows, 1L, numPartitions)
      else spark.range(rows)
    base.select(specs.zipWithIndex.map { case (s, i) =>
      GenExprs.exprFor(s, i, seed, nowEpoch)
    }: _*)
  }

  /** Header-less, unquoted, comma-separated CSV — the reference's sink
    * conventions (generate_csv.cpp:164,192-196,243). The generator
    * charsets exclude ',' and '"', so unquoted output is faithful.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "false")
      .option("emptyValue", "")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("dateFormat", "yyyy-MM-dd")
      .csv(path)

  /** Byte-parity projection for the text CSV sink: float/double render
    * as C/C++ `%g` precision-6 text (GFormat6Expr — what the
    * reference's `stringstream << x` emits, generate_csv.cpp:42-54:
    * the exact binary value rounded half-even to six digits, written
    * straight to UTF-8 bytes) and decimals as their scale-padded plain
    * string (BigDecimal keeps scale, matching the reference's
    * zero-padded fraction, generate_csv.cpp:145). Other types already
    * match the reference's text conventions through the plain CSV
    * options. Row-local, codegen'd — the parity sink stays shuffle-free.
    */
  def textParity(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case FloatType | DoubleType =>
          ColumnBridge.column(GFormat6Expr(
            ColumnBridge.expression(df.col(f.name)))).as(f.name)
        case _: DecimalType => df.col(f.name).cast("string").as(f.name)
        case _              => df.col(f.name)
      }
    }.toSeq: _*)
  }

  /** writeCsv with the reference's float/double/decimal TEXT
    * conventions — byte-faithful output, not just domain-faithful.
    */
  def writeCsvText(df: DataFrame, path: String): Unit =
    writeCsv(textParity(df), path)

  /** Bulk-load layout for a range-partitioned target table: sort-range
    * shuffle on the first column (the `key` column by convention) into
    * `buckets` output files, each covering a contiguous key range.
    */
  def writeCsvPartitioned(df: DataFrame, path: String, buckets: Int): Unit = {
    val keyCol = df.columns.head
    writeCsv(df.repartitionByRange(buckets, df.col(keyCol)), path)
  }

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Bucketed bulk-load table: rows hash-bucketed on `keyCol` into
    * `buckets` files per partition, registered in the session catalog.
    * Two tables bucketed the same way join WITHOUT a shuffle — the
    * co-location contract a partitioned-DB loader (or any repeated
    * big-join workload) wants at 100 TB. Requires a writable warehouse
    * dir (spark.sql.warehouse.dir); see BucketingSpec.
    */
  def writeBucketed(df: DataFrame, table: String, keyCol: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)

  /** CLI parity entry: args = <rows> <spec> [outPath]. Writes CSV to
    * outPath (default /tmp/sqload_out). Unlike the reference, parse errors
    * exit non-zero (the reference prints to stdout and exits 0,
    * generate_csv.cpp:370-375 — deliberately not replicated: a bulk-load
    * harness needs a real exit code).
    */
  def main(args: Array[String]): Unit = {
    val (rows, spec) =
      if (args.length >= 2) (args(0).toLong, args(1))
      else (100000L, "int,varchar(50),double,date,bigint") // default run (:358-360)
    val out = if (args.length >= 3) args(2) else "/tmp/sqload_out"
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try writeCsvText(table(spark, spec, rows), out)
    catch {
      case e: SpecParseException => System.err.println(e.msg); sys.exit(1)
    }
    finally spark.stop()
  }
}
