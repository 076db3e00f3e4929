package graft

/** Plan-inspection main: prints the formatted physical plan (and codegen
  * availability) for a query from the inventory or a generator spec.
  *
  *   runMain graft.Explain q_agg_pricing [sfDir]
  *   runMain graft.Explain gen:varchar(50)
  *   runMain graft.Explain codegen:gen:varchar(50)   (full generated code)
  *   runMain graft.Explain exec:q_text_perplexity    (run, then print the
  *     FINAL adaptive plan — AQE stage reuse/coalescing is only visible
  *     after execution; the static plan shows isFinalPlan=false)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("WARN")
    val (mode, target) =
      if (args(0).startsWith("codegen:")) ("codegen", args(0).stripPrefix("codegen:"))
      else if (args(0).startsWith("exec:")) ("exec", args(0).stripPrefix("exec:"))
      else ("formatted", args(0))
    val df =
      if (target.startsWith("gen:"))
        gen.SqloadGen.table(spark, target.stripPrefix("gen:"), 1000)
      else
        SparkEntry.queries(target)(spark,
          if (args.length > 1) args(1) else "/root/testdata/sf0.001")
    if (mode == "exec") {
      // collect() (not count()) — count() wraps the plan in a NEW
      // aggregate QueryExecution, leaving THIS df's adaptive plan
      // unexecuted (isFinalPlan=false, no reuse visible)
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    } else df.explain(mode)
    spark.stop()
  }
}
