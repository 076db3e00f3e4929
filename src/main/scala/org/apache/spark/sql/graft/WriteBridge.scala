package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.SerializableConfiguration

/** Bridge to what a file writer needs from Spark's `private[sql]` and
  * `private[spark]` surface: the session's Hadoop conf, one job over a
  * plan's rows inside its own SQL execution, and the task's kill check
  * and output metrics. SqloadGen.writeCsvText writes its part files
  * with these instead of through the file-source writer, whose every
  * task carries its own copies of the Hadoop conf.
  */
object WriteBridge {

  /** The Hadoop conf the session's file sources use: the context's, with
    * the session's SQL confs on top.
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Runs `task` once per partition of `df`'s rows as one job of a new SQL
    * execution named `name`, so listeners see `df`'s plan, and returns the
    * results in partition order. `conf` reaches the tasks in one
    * broadcast. A plan with no partitions runs as one empty partition, as
    * the file-source writer runs it.
    */
  def runJob[T: ClassTag](df: DataFrame, name: String, conf: Configuration)(
      task: (Configuration, TaskContext, Iterator[InternalRow]) => T): Array[T] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val sc = df.sparkSession.sparkContext
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rows = qe.toRdd
      val rdd = if (rows.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rows
      val shared = sc.broadcast(new SerializableConfiguration(conf))
      sc.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) => task(shared.value.value, ctx, it))
    }
  }

  /** Ends the running task if it has been killed, as Spark's own
    * iterators do between rows.
    */
  def stopIfKilled(ctx: TaskContext): Unit = ctx.killTaskIfInterrupted()

  /** Sets the running task's output metrics. */
  def reportOutput(bytes: Long, records: Long): Unit = {
    val m = TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }
}
