package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2), assembled
  * from the per-family objects under graft.operators; `oracleSql` holds
  * the DuckDB-equivalent SQL for the driver's hash compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** The session every main runs on: `local[cores]`, one shuffle
    * partition per core, UTC, Parquet nanosecond timestamps read as
    * longs, no UI. Sets confs only; the engine posture comes with
    * [[queries]].
    */
  def localSession(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One entry per implemented operator from SURVEY.md §2. Each build
    * first installs the engine posture ([[GraftExtensions.register]]) on
    * the session it is given, so a plan never depends on which query
    * that session built first.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (operators.RelationalQueries.queries ++
      operators.ScalarQueries.queries ++
      operators.TimeWindowQueries.queries ++
      operators.DedupQueries.queries ++
      operators.TextQueries.queries ++
      operators.SimilarityQueries.queries ++
      operators.GenQueries.queries ++
      operators.MultimodalQueries.queries ++
      operators.SourceQueries.queries ++
      operators.PipelineQueries.queries ++
      operators.SqlQueries.queries).map { case (name, build) =>
      name -> ((s: SparkSession, d: String) => { GraftExtensions.register(s); build(s, d) })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    operators.RelationalQueries.oracles ++
      operators.ScalarQueries.oracles ++
      operators.TimeWindowQueries.oracles ++
      operators.DedupQueries.oracles ++
      operators.TextQueries.oracles ++
      operators.SimilarityQueries.oracles ++
      operators.GenQueries.oracles ++
      operators.MultimodalQueries.oracles ++
      operators.SourceQueries.oracles ++
      operators.PipelineQueries.oracles ++
      operators.SqlQueries.oracles
}
