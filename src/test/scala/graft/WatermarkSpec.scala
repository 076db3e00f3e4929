package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Watermark semantics under real multi-batch streaming: one
  * checkpointed append-mode query is run twice (AvailableNow). The
  * second run delivers an event far older than the watermark the first
  * run advanced — it must be dropped, and the finalized window emitted
  * without it. This is the state-eviction contract that bounds memory
  * at stream scale.
  */
class WatermarkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  test("checkpointed append-mode agg drops data older than the watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wm").toFile
    val src = new java.io.File(dir, "in"); src.mkdirs()
    val out = new java.io.File(dir, "out").getAbsolutePath
    val ck = new java.io.File(dir, "ck").getAbsolutePath

    def writeBatch(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("event_id", "ts", "event_type")
        .repartition(1)
        .write.mode("append").parquet(src.getAbsolutePath)

    def tsNs(hour: Long, minute: Long): Long = (hour * 3600 + minute * 60) * 1000000000L

    def runOnce(): Unit = {
      val agg = spark.readStream
        .schema("event_id LONG, ts LONG, event_type STRING")
        .parquet(src.getAbsolutePath)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("ws_us"), col("n"))
      val q = agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: hours 0 and 10 → watermark advances to ~09:35; the hour-0
    // window is final
    writeBatch(Seq(
      (1L, tsNs(0, 10), "view"),
      (2L, tsNs(0, 20), "view"),
      (3L, tsNs(10, 5), "view")))
    runOnce()

    // run 2 (same checkpoint — only the new file is processed): an
    // hour-0 straggler far beyond the watermark plus a fresh hour-11
    // event
    writeBatch(Seq(
      (4L, tsNs(0, 40), "view"), // too late: must be dropped
      (5L, tsNs(11, 0), "view")))
    runOnce()

    val emitted = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the finalized hour-0 window counts 2, NOT 3 — the late event was
    // dropped, not merged and not re-emitted
    assert(emitted.get(0L).contains(2L), s"hour-0 must exclude the straggler: $emitted")
    // hour 11's window is still open (watermark 10:30 < 12:00): not emitted
    assert(!emitted.contains(11L * 3600 * 1000000), s"open window must not be emitted: $emitted")
  }
}
