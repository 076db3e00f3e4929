package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Testdata table loaders + cross-engine determinism conventions.
  *
  * Every query in the inventory must hash-match a DuckDB oracle on the
  * same parquet (driver contract). The rules that make that possible:
  *
  *  1. Money/metric doubles are cast to DECIMAL(18,2) *before* any
  *     aggregation: decimal sums are exact integer arithmetic in both
  *     engines, so they are independent of partial-aggregation order —
  *     raw double sums are not. (Sources are on a 0.01 grid, so the
  *     cast itself is unambiguous.)
  *  2. Averages/ratios are derived as CAST(exact_sum AS DOUBLE)/count:
  *     identical operands ⇒ identical IEEE result ⇒ no rounding needed.
  *     Engine round() on doubles is never used for output columns
  *     (Spark rounds via shortest-decimal-repr, DuckDB on the binary
  *     value — they disagree exactly at .5 boundaries).
  *  3. Derived timestamps are emitted as epoch microseconds (BIGINT):
  *     Spark unix_micros ≡ DuckDB epoch_us, no timezone ambiguity.
  *  4. Every result defines a total order (ORDER BY with unique
  *     tie-break keys); DuckDB ORDER BY gets explicit NULLS FIRST on
  *     ASC keys to match Spark's default null ordering.
  *  5. Cross-engine hashing uses md5 (same bytes in, same hex out):
  *     a 60-bit integer hash is conv(substr(md5(x),1,15),16,10) in
  *     Spark ≡ ('0x'||substr(md5(x),1,15))::BIGINT in DuckDB.
  *  6. Wide-decimal → double casts in oracle SQL go through VARCHAR:
  *     DuckDB's direct DECIMAL→DOUBLE conversion is not correctly
  *     rounded once the decimal exceeds ~15 significant digits (it can
  *     be 1 ulp off), while Spark's BigDecimal.doubleValue is exact.
  *     CAST(CAST(x AS VARCHAR) AS DOUBLE) re-parses via strtod, which
  *     rounds correctly and matches Spark (see q_agg_stats).
  */
object Tables {
  val Dec2: DecimalType  = DecimalType(18, 2)
  val Dec380: DecimalType = DecimalType(38, 0)
  val Dec382: DecimalType = DecimalType(38, 2)
  val Dec384: DecimalType = DecimalType(38, 4)

  /** Unscaled long of `CAST(d AS DECIMAL(18, s))` for a DOUBLE column —
    * [[graft.gen.DecUnscaledExpr]], the projection-side companion of
    * [[sum128]]/[[sum128p]]. Callers project this ONCE ahead of an
    * aggregate so the cast is not re-evaluated per aggregate function
    * (HashAggregate's split update functions disable cross-function
    * subexpression elimination).
    */
  def decU(c: org.apache.spark.sql.Column, s: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.gen.DecUnscaledExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), s))

  /** Exact decimal sum through the 128-bit integer kernel
    * ([[graft.gen.Sum128Agg]]) over an unscaled-long column (see
    * [[decU]]) — value- and type-identical to `sum(c)` for the decimal
    * the long unscales, minus the per-row BigDecimal arithmetic. The
    * caller supplies the result type `sum` would have had
    * (decimal(p+10, s) for an input decimal(p, s)) because the input
    * type is not visible before analysis.
    */
  def sum128(cU: org.apache.spark.sql.Column, p: Int, s: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.gen.Sum128Agg.single(
        org.apache.spark.sql.graft.ColumnBridge.expression(cU), p, s).toAggregateExpression())

  /** Exact decimal product-sum over unscaled-long columns:
    * ≡ `sum((x*y).cast(DecimalType(p, s)))` for the decimals x, y the
    * longs unscale, with scale(x)+scale(y) = s — see [[sum128]].
    */
  def sum128p(xU: org.apache.spark.sql.Column, yU: org.apache.spark.sql.Column,
      p: Int, s: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.gen.Sum128Agg(
        org.apache.spark.sql.graft.ColumnBridge.expression(xU),
        org.apache.spark.sql.graft.ColumnBridge.expression(yU), p, s).toAggregateExpression())

  /** Table `name` of `sfDir`, its Parquet schema inferred at most once
    * per file: a read without a schema runs a one-task footer job
    * (`SchemaMergeUtils.mergeSchemasInParallel`), `mergeSchema` off or
    * not. The key holds what the inferred schema depends on:
    *  - the Hadoop-qualified path, so `faulty:///x` and `/x` differ;
    *  - the file's length and modification time, from one
    *    `getFileStatus`, so a file rewritten in place is inferred anew;
    *  - the session's explicitly set `spark.sql.parquet.*`,
    *    `spark.sql.legacy.parquet.*` and `spark.sql.caseSensitive`
    *    confs, which change what Parquet→Spark conversion returns
    *    (`inferTimestampNTZ.enabled`: NTZ or LTZ for a zone-less
    *    timestamp; `nanosAsLong`: TIMESTAMP(NANOS) as a Long). An unset
    *    conf reads its default, the same in every session, so the
    *    session itself is not in the key.
    * Anything but a single file (a directory, a missing path) is not
    * cached: it is read as it is, with inference.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }
    val key = Try(fs.getFileStatus(path)).toOption.filter(_.isFile)
      .map(st => (fs.makeQualified(path).toString, st.getLen, st.getModificationTime, confs))
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path.toString)
      case None =>
        val df = spark.read.parquet(path.toString)
        key.foreach(schemas.put(_, df.schema))
        df
    }
  }
  private val schemas = new ConcurrentHashMap[(String, Long, Long, Map[String, String]), StructType]()

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")

  /** events.ts normalization — the testdata has shipped two physical
    * encodings of this column, so the loader adapts to the schema it
    * finds rather than assuming one:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    unless `spark.sql.legacy.parquet.nanosAsLong=true`, which
    *    surfaces a raw nanos Long. Floor-`div` 1000 → microseconds
    *    (matching DuckDB's ns→us truncation on read; `div` keeps the
    *    arithmetic in Long — `/` would go through Double and lose
    *    precision above 2^53), re-typed as a session-TZ (UTC)
    *    timestamp.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    *    TIMESTAMP_NTZ; cast to session-TZ timestamp (sessions pin UTC,
    *    so the instant is unchanged and unix_micros ≡ DuckDB epoch_us).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
