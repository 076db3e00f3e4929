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
  * shuffle-free, whole-stage-codegen'd, one stage. Each task generates
  * its own id range, renders each row once into one CSV line
  * (CsvLineExpr) and writes the lines through the `text` writer, so
  * 100 TB output is a matter of task count. `numPartitions` controls
  * parallelism; with `key` first, each task's file holds one contiguous
  * key range.
  */
object SqloadGen {

  /** Generate `rows` rows of the given type-spec, fully determined by
    * (spec, rows, seed) and invariant under `numPartitions`.
    */
  def table(spark: SparkSession, spec: String, rows: Long, seed: Long = 42L,
            numPartitions: Int = 0): DataFrame = {
    val specs = TypeSpecParser.parse(spec)
    val base =
      if (numPartitions > 0) spark.range(0L, rows, 1L, numPartitions)
      else spark.range(rows)
    base.select(specs.zipWithIndex.map { case (s, i) =>
      GenExprs.exprFor(s, i, seed)
    }: _*)
  }

  /** The typed view of the bulk-load CSV text, one column per field:
    * float/double as C `%g` precision-6 strings (GFormat6Expr) and
    * decimals as their scale-padded plain strings; every other column
    * as it is. It is no longer the write path (`writeCsvText` renders
    * whole rows); it is an independent statement of what each field's
    * text is, which the CSV datasource or a string cast turns into the
    * same bytes. Row-local and codegen'd.
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

  /** Header-less, unquoted, comma-separated CSV with the reference's
    * text conventions (generate_csv.cpp:42-54,145,163-245), byte for
    * byte: each row rendered once into one line (CsvLineExpr), written
    * with the `text` writer into `part-*.csv` files.
    */
  def writeCsvText(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.graft.ColumnBridge
    val line = CsvLineExpr(df.columns.toSeq.map(c => ColumnBridge.expression(df.col(c))))
    df.select(ColumnBridge.column(line).as("value"))
      .write.mode("overwrite").format(classOf[CsvTextFormat].getName).save(path)
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
