package graft.gen

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.WriteBridge
import org.apache.spark.unsafe.Platform

/** The Tier A engine surface: type-spec string → deterministic DataFrame →
  * CSV/Parquet bulk-load output.
  *
  * Mirrors the reference CLI contract (`./generate_csv N "spec"`,
  * /root/reference/generate_csv.cpp:355-376) as a library:
  * `SqloadGen.table(spark, spec, rows, seed)`.
  *
  * Scale posture: the plan is Range → Project — narrow, shuffle-free,
  * whole-stage-codegen'd, one stage — and `writeCsvText` runs it as one
  * job. Each task generates its own id range, renders each row once into
  * one CSV line (CsvLineExpr) and writes the lines into its own staged
  * file, so 100 TB output is a matter of task count; the driver renames
  * the files into place once every task has succeeded. `numPartitions`
  * controls parallelism; with `key` first, each task's file holds one
  * contiguous key range.
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
    * byte, as one Spark job that replaces `path` only if every task
    * succeeds.
    *
    *  - Each row is rendered once into one line (CsvLineExpr).
    *  - Each task writes its lines in 64 KB blocks into a file of a
    *    hidden staging directory beside `path`, named for the task
    *    attempt. Like Spark's file writer, the first partition always
    *    writes a file and any other empty partition writes none.
    *  - Once every task has succeeded, the driver gives the files of the
    *    successful attempts Spark's `part-%05d-<job>-c000.csv` names,
    *    adds `_SUCCESS`, moves the previous output aside, renames the
    *    new output into place and deletes the staging directory.
    *
    * A failed load leaves the previous output as it was. Returns the rows,
    * bytes and files written.
    */
  def writeCsvText(df: DataFrame, path: String): LoadReport = {
    import org.apache.spark.sql.graft.ColumnBridge
    val line = CsvLineExpr(df.columns.toSeq.map(c => ColumnBridge.expression(df.col(c))))
    val lines = df.select(ColumnBridge.column(line).as("value"))
    val conf = WriteBridge.hadoopConf(df.sparkSession)
    val fs = new Path(path).getFileSystem(conf)
    val out = fs.makeQualified(new Path(path))
    val job = UUID.randomUUID().toString
    val staging = new Path(out.getParent, s".${out.getName}-$job")
    fs.mkdirs(staging)
    try {
      val parts = WriteBridge.runJob(lines, "writeCsvText", conf)(writePart(staging, job)).flatten
      val fresh = new Path(staging, "new")
      fs.mkdirs(fresh)
      parts.foreach(p => rename(fs, new Path(staging, p.staged), new Path(fresh, p.name)))
      fs.create(new Path(fresh, "_SUCCESS")).close()
      val old = new Path(staging, "old")
      val replaces = fs.exists(out)
      if (replaces) rename(fs, out, old)
      try rename(fs, fresh, out)
      catch { case e: IOException => if (replaces) fs.rename(old, out); throw e }
      LoadReport(parts.map(_.rows).sum, parts.map(_.bytes).sum, parts.length)
    } finally {
      // tasks of a failed job may still be closing their files
      var tries = 0
      while (fs.exists(staging) && tries < 3) { fs.delete(staging, true); tries += 1 }
    }
  }

  /** What a load wrote. */
  final case class LoadReport(rows: Long, bytes: Long, files: Int)

  /** One task's file: its staged name, its final name and what it holds. */
  private final case class Part(staged: String, name: String, rows: Long, bytes: Long)

  private val BlockSize = 64 * 1024

  private def writePart(staging: Path, job: String)(
      conf: Configuration, ctx: TaskContext, lines: Iterator[InternalRow]): Option[Part] =
    if (ctx.partitionId() != 0 && !lines.hasNext) None
    else {
      val name = f"part-${ctx.partitionId()}%05d-$job-c000.csv"
      val file = new Path(staging, s"${ctx.taskAttemptId()}-$name")
      val fs = file.getFileSystem(conf)
      WriteBridge.stopIfKilled(ctx)
      // not recursive: once a failed load has deleted the staging
      // directory, a late task creates nothing
      val os = fs.createFile(file).overwrite(false).build()
      var rows, bytes = 0L
      try {
        val block = new Array[Byte](BlockSize)
        var n = 0
        lines.foreach { r =>
          val s = r.getUTF8String(0)
          val k = s.numBytes
          if (n + k + 1 > BlockSize) {
            os.write(block, 0, n)
            n = 0
            WriteBridge.stopIfKilled(ctx)
          }
          if (k + 1 > BlockSize) s.writeTo(os)
          else {
            s.writeToMemory(block, Platform.BYTE_ARRAY_OFFSET + n)
            n += k
          }
          block(n) = '\n'
          n += 1
          rows += 1
          bytes += k + 1
        }
        os.write(block, 0, n)
        os.close()
      } catch {
        case t: Throwable =>
          try { os.close(); fs.delete(file, false) } catch { case _: IOException => }
          throw t
      }
      WriteBridge.reportOutput(bytes, rows)
      Some(Part(file.getName, name, rows, bytes))
    }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"could not rename $from to $to")

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
    * outPath (default /tmp/sqload_out) and prints the rows, bytes and
    * files written as one line on stderr. Unlike the reference, parse errors
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
    try {
      val r = writeCsvText(table(spark, spec, rows), out)
      System.err.println(s"sqload: wrote ${r.rows} rows, ${r.bytes} bytes in ${r.files} files to $out")
    } catch {
      case e: SpecParseException => System.err.println(e.msg); sys.exit(1)
    }
    finally spark.stop()
  }
}
