package graft

import org.apache.spark.sql.DataFrame

/** Spark's CSV datasource with the bulk-load options: header-less,
  * unquoted, empty strings and nulls as empty fields, dates and
  * timestamps in the reference's layouts. Over `SqloadGen.textParity`
  * it is the byte oracle for `SqloadGen.writeCsvText`, which renders
  * the same text without it (CsvLineSpec).
  */
object CsvOracle {
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "false")
      .option("emptyValue", "")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("dateFormat", "yyyy-MM-dd")
      .csv(path)
}
