package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** Releases what the queries built so far left in the session, so one
  * query's blocks never pile up under the next: cached relations and
  * every persisted or locally checkpointed RDD.
  *
  * Unpersisting a locally checkpointed RDD warns that its lineage is
  * gone and it cannot be recomputed. Here that is the intent, so the
  * loggers of the RDDs being released are held at ERROR for the call.
  */
object Release {
  def all(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
    val loggers = rdds.map(_.getClass.getName.stripSuffix("$")).distinct
    val saved = loggers.map(n => n -> LogManager.getLogger(n).getLevel)
    loggers.foreach(Configurator.setLevel(_, Level.ERROR))
    try rdds.foreach(_.unpersist(blocking = false))
    finally saved.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }
}
