package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.EventsStreaming

/** Streaming keyed state on the RocksDB state store provider — the
  * 100 TB posture (round-10 verdict residual #2). The default
  * HDFSBackedStateStoreProvider keeps every key's state on the JVM
  * heap of its executor; at 100 TB keyed state (per-user sessions,
  * bursts, carries over an unbounded user population) that heap
  * residency is the wrong posture — RocksDB spills keyed state to
  * local disk with bounded memory, which is why it is the production
  * default for large stateful pipelines. The switch is pure config
  * (`spark.sql.streaming.stateStore.providerClass`); these tests prove
  * the full streaming-operator set produces BIT-IDENTICAL results
  * under it: the nine custom-carry families (sessionize, debounce,
  * LOCF, and — round 12 — the guard-hardened PIT slots, last-touch
  * attribution, transition predecessors, plus the numeric-carry EWMA,
  * CUSUM, and rolling-median streams) including cross-batch state
  * chaining, event-time eviction, and the late-event slot guards, and
  * the built-in-state operators (windowed aggregates: OHLC bars +
  * sliding counts; the funnel stage machine and drift counts; the
  * stream-stream interval join — the largest state here, both sides
  * buffered — and incremental dedup). Every test asserts the provider
  * actually engaged
  * (the checkpoint's state dir carries RocksDB zip/changelog
  * artifacts, never the HDFS provider's .delta files).
  */
class RocksDbStateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  /** Runs `body` under the SHIPPED posture (graft.streaming.StatePosture
    * — RocksDB provider + changelog checkpointing, the round-16
    * default), restoring prior confs after — suites share one
    * JVM/session, so the conf must not leak into StreamingSpec's
    * HDFS-backed runs. Every bit-identity test below therefore runs
    * under exactly the defaults the library ships.
    */
  private def withRocksDb[A](body: => A): A =
    streaming.StatePosture.withRocksDb(spark)(body)

  /** Run to completion in the given output mode with an explicit
    * checkpoint dir; returns the memory-sink table and the flat list
    * of files under the checkpoint's state directory.
    */
  private def runChk(df: DataFrame, name: String, mode: String): (DataFrame, Seq[String]) = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"rocksckpt_$name").toFile
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
      else if (f.isFile) Seq(f.getName)
      else Seq.empty
    (spark.table(name), walk(new java.io.File(ckpt, "state")))
  }

  /** Runs and asserts the state directory holds RocksDB artifacts
    * (zip/changelog, never the HDFS provider's .delta).
    */
  private def runMode(df: DataFrame, name: String, mode: String): DataFrame = {
    val (table, files) = runChk(df, name, mode)
    assert(files.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"no RocksDB snapshot/changelog artifacts in the $name checkpoint — provider did not engage: $files")
    assert(!files.exists(_.endsWith(".delta")),
      s"HDFS-backed .delta files in the $name checkpoint — provider did not engage: $files")
    table
  }

  /** For operators that hold NO store state (stream-static joins):
    * runs under the provider conf and asserts the state dir stays
    * EMPTY — the no-keyed-state claim, pinned.
    */
  private def runStateless(df: DataFrame, name: String): DataFrame = {
    val (table, files) = runChk(df, name, "append")
    assert(files.isEmpty,
      s"expected NO state files for a stream-static operator, got: $files")
    table
  }

  private def runAppend(df: DataFrame, name: String): DataFrame =
    runMode(df, name, "append")
  private def runUpdate(df: DataFrame, name: String): DataFrame =
    runMode(df, name, "update")
  private def runComplete(df: DataFrame, name: String): DataFrame =
    runMode(df, name, "complete")

  private def writeReplayFile(dir: java.io.File, df: DataFrame,
                              name: String, modMs: Long): Unit = {
    val stage = new java.io.File(dir, s"_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    val target = new java.io.File(dir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, target.toPath)
    target.setLastModified(modMs)
    stage.listFiles().foreach(_.delete()); stage.delete()
  }

  test("RocksDB: streaming LOCF imputation == batch window fill, bitwise") {
    val streamed = withRocksDb {
      runAppend(streaming.LocfStream.fills(spark, sf), "r_locf")
    }.select("event_id", "user_id", "tus", "was_missing", "v_filled")
    val batch = SparkEntry.queries("q_impute_locf")(spark, sf)
      .select("event_id", "user_id", "tus", "was_missing", "v_filled")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("RocksDB: streaming debounce across 3 micro-batches == batch keep-first-per-burst, bitwise") {
    // StreamingSpec's multi-batch replay protocol, under RocksDB:
    // bursts straddle the time-split cut and must chain through
    // RocksDB-resident state; the far-future sentinel (user -1) pushes
    // the watermark so event-time timeouts flush every real burst.
    import org.apache.spark.sql.functions._
    val cols = Seq("event_id", "user_id", "event_type", "tus", "burst_n")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    val Array(cutUs, maxUs) = ev
      .agg(percentile_approx(unix_micros(col("ts")), lit(0.5), lit(100)),
        max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val dir = java.nio.file.Files.createTempDirectory("rocks_debounce").toFile
    val t0 = System.currentTimeMillis() - 60000
    writeReplayFile(dir, ev.filter(unix_micros(col("ts")) < cutUs), "b1", t0)
    writeReplayFile(dir, ev.filter(unix_micros(col("ts")) >= cutUs), "b2", t0 + 10000)
    val sentinel = ev.limit(1).select(lit(-1L).as("user_id"),
      lit("view").as("event_type"), lit(-1L).as("event_id"),
      timestamp_micros(lit(maxUs + 46800000000L)).as("ts")) // +13 h
    writeReplayFile(dir, sentinel, "b3", t0 + 20000)
    val src = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val streamed = withRocksDb {
      runAppend(streaming.DebounceStream.survivorsOf(src), "r_debounce")
    }.select(cols.head, cols.tail: _*)
    val batch = SparkEntry.queries("q_win_debounce")(spark, sf)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("RocksDB: the late-purchase PIT guard holds across provider-resident state") {
    // The round-11 emit guard (a cross-batch late purchase must not
    // read a carried slot from its own future) exercised with the
    // carried state living in RocksDB — guards that compare carried
    // fields are exactly the code that breaks if a provider swap
    // mangles state round-tripping.
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("rocks_latep").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((70L, m(10), 2L, "view", 2.0)))
    batch("b2", t0 + 10000, Seq((70L, m(2), 1L, "purchase", 7.5))) // late purchase
    def src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val (pit, attr) = withRocksDb {
      (runAppend(streaming.PitStream.featuresOf(src), "r_pit_latep")
         .collect().map(r => (r.getLong(1), Option(r.get(3)), r.getLong(5))).toSet,
       runAppend(streaming.AttributionStream.creditsOf(src), "r_attr_latep")
         .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet)
    }
    assert(pit == Set((70L, None, 0L)),
      s"got $pit — the late purchase must not read the m(10) view from its future")
    assert(attr == Set((70L, "none", 7.5)),
      s"got $attr — the late purchase must not credit the m(10) view from its future")
  }

  test("RocksDB: streaming PIT features == batch PIT join bitwise, and the late-view slot guard holds") {
    // Round-12: the round-11 guard-hardened streams join the RocksDB
    // parity set. Part 1 is full bit-parity vs the batch q_join_pit
    // oracle over the sf0.001 events stream; part 2 replays
    // StreamingSpec's pit_ooo fixture (a cross-batch LATE view must
    // not mask the newer carried slot) with the slot state resident in
    // RocksDB — slot-compare guards are exactly the code that breaks
    // if the provider swap mangles state round-tripping.
    import org.apache.spark.sql.functions._
    val cols = Seq("event_id", "user_id", "purchase_us",
      "f_last_view_value", "f_last_click_value", "f_n_signups")
    val streamed = withRocksDb {
      runAppend(streaming.PitStream.features(spark, sf), "r_pit")
    }.select(cols.head, cols.tail: _*)
    val batch = SparkEntry.queries("q_join_pit")(spark, sf)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("rocks_pit_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def rep(name: String, mod: Long, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type"), col("value")),
        name, mod)
    }
    rep("b1", t0, Seq((50L, m(10), 1L, "view", 2.0)))
    rep("b2", t0 + 10000, Seq((50L, m(2), 2L, "view", 9.0))) // late view
    rep("b3", t0 + 20000, Seq((50L, m(12), 3L, "purchase", 0.0)))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = withRocksDb {
      runAppend(streaming.PitStream.featuresOf(src), "r_pit_ooo")
    }.collect().map(r => (r.getLong(1), Option(r.get(3)))).toSet
    assert(got == Set((50L, Some(2.0))),
      s"got $got — the purchase must read the NEWER view value 2.0 from RocksDB state")
  }

  test("RocksDB: streaming attribution == batch attribution bitwise, and the late-touch guard holds") {
    import org.apache.spark.sql.functions._
    val credits = withRocksDb {
      runAppend(streaming.AttributionStream.credits(spark, sf), "r_attribution")
    }
    // fold the streamed per-purchase credits with the batch query's
    // exact decimal arithmetic (order-independent, so stream == batch)
    val streamed = credits.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(Tables.Dec2)).cast(Tables.Dec382).as("total_value"))
    val batch = SparkEntry.queries("q_attribution")(spark, sf)
    assert(credits.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    // StreamingSpec's attr_ooo fixture: a cross-batch LATE click must
    // not beat the newer carried view for the last-touch credit
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("rocks_attr_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def rep(name: String, mod: Long, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type"), col("value")),
        name, mod)
    }
    rep("b1", t0, Seq((30L, m(10), 1L, "view", 0.0)))
    rep("b2", t0 + 10000, Seq((30L, m(2), 2L, "click", 0.0))) // late touch
    rep("b3", t0 + 20000, Seq((30L, m(12), 3L, "purchase", 7.5)))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = withRocksDb {
      runAppend(streaming.AttributionStream.creditsOf(src), "r_attr_ooo")
    }.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((30L, "view", 7.5)),
      s"got $got — the purchase must credit the NEWER view carried through RocksDB")
  }

  test("RocksDB: streaming transitions == batch matrix bitwise, and the late-predecessor guard holds") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val pairs = withRocksDb {
      runAppend(streaming.TransitionStream.pairs(spark, sf), "r_transitions")
    }
    // fold the streamed (from, to) pairs into the batch query's matrix:
    // exact integer counts, identical double division for p
    val streamed = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy("from_type")))
    val batch = SparkEntry.queries("q_win_transitions")(spark, sf)
      .select("from_type", "to_type", "n", "p")
    assert(pairs.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    // StreamingSpec's trans_ooo fixture: the carried predecessor must
    // stay the newer view across a late batch
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("rocks_trans_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def rep(name: String, mod: Long, rows: Seq[(Long, Long, Long, String)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type")),
        name, mod)
    }
    rep("b1", t0, Seq((40L, m(10), 1L, "view")))
    rep("b2", t0 + 10000, Seq((40L, m(2), 2L, "click"))) // late
    rep("b3", t0 + 20000, Seq((40L, m(12), 3L, "purchase")))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = withRocksDb {
      runAppend(streaming.TransitionStream.pairsOf(src), "r_trans_ooo")
    }.collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(got == Set(("view", "click"), ("view", "purchase")),
      s"got $got — the purchase's predecessor must be the newer view under RocksDB")
  }

  test("RocksDB: streaming EWMA == batch EWMA fold, bitwise") {
    // the numeric-carry streams are where a provider swap is most
    // dangerous — a single bit lost in the carried double compounds
    // through every subsequent fold, so exceptAll-bitwise is the gate
    import org.apache.spark.sql.functions._
    val streamed = withRocksDb {
      runUpdate(streaming.EwmaStream.ewma(spark, sf), "r_ewma")
    }.select(col("user_id"), col("n_events").cast("int").as("n_events"),
      col("ewma"))
    val batch = SparkEntry.queries("q_win_ewma")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("RocksDB: streaming CUSUM == batch closed-form windows, bitwise") {
    val (n, sumCents) = streaming.CusumStream.referenceStats(spark, sf)
    val streamed = withRocksDb {
      runAppend(streaming.CusumStream.stats(spark, sf, n, sumCents), "r_cusum")
    }.select("event_id", "user_id", "tus", "cusum", "alarm")
    val batch = SparkEntry.queries("q_win_cusum")(spark, sf)
      .select("event_id", "user_id", "tus", "cusum", "alarm")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("RocksDB: streaming rolling median == batch window median, bitwise") {
    val streamed = withRocksDb {
      runAppend(streaming.RollMedianStream.medians(spark, sf), "r_rollmedian")
    }.select("event_id", "user_id", "n_frame", "roll_median")
    val batch = SparkEntry.queries("q_win_rollmedian")(spark, sf)
      .select("event_id", "user_id", "n_frame", "roll_median")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("RocksDB: the 4-batch carry replay chains and evicts through provider state (LOCF + CUSUM)") {
    // StreamingSpec's carry_replay fixture verbatim, state resident in
    // RocksDB: CHAINING (batch-2 events must see batch-1 carries) and
    // EVICTION (idle keys time out on the event-time horizon and later
    // events fold from EMPTY state) — the two behaviors that round-trip
    // the most state through the provider across commits.
    import org.apache.spark.sql.functions._
    val T0 = 1735689600000000L // 2025-01-01 00:00:00 UTC, micros
    val H = 3600000000L; val Min = 60000000L
    def batchDf(rows: Seq[(Long, Long, Long, Double)]) =
      spark.createDataFrame(rows).toDF("user_id", "us", "event_id", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("value"))
    val b1 = batchDf(Seq((1L, T0, 3L, 5.0), (2L, T0, 10L, 7.0)))          // both present
    val b2 = batchDf(Seq((1L, T0 + 10 * Min, 7L, 99.0),                   // missing for LOCF
      (3L, T0 + 25 * H, 14L, 1.0)))                                       // missing; wm pusher
    val b3 = batchDf(Seq((3L, T0 + 26 * H, 21L, 1.0)))                    // users 1,2 time out here
    val b4 = batchDf(Seq((2L, T0 + 27 * H, 28L, 2.0)))                    // missing; post-eviction
    val dir = java.nio.file.Files.createTempDirectory("rocks_carry").toFile
    val t0 = System.currentTimeMillis() - 60000
    Seq(b1, b2, b3, b4).zipWithIndex.foreach { case (df, i) =>
      writeReplayFile(dir, df, s"b${i + 1}", t0 + i * 10000)
    }
    def src = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.getAbsolutePath)

    val (locf, cusum) = withRocksDb {
      (runAppend(streaming.LocfStream.fillsOf(src), "r_locf_mb")
         .select("event_id", "was_missing", "v_filled")
         .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getDouble(2))).toMap,
       runAppend(streaming.CusumStream.statsOf(src, 1L, 0L), "r_cusum_mb")
         .select("event_id", "cusum")
         .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    }
    assert(locf.size == 6)
    assert(locf(7L) == (true, 5.0), "batch-2 fill must carry batch-1 state through RocksDB")
    assert(locf(28L) == (true, 0.0),
      "post-eviction fill must fall back to 0.0, not the pre-eviction 7.0")
    assert(cusum.size == 6)
    assert(cusum(7L) == 99.0, "batch-2 stat must fold onto the RocksDB-resident batch-1 cumsum")
    assert(cusum(21L) == 1.0, "user 3 chains b2 -> b3 (inside horizon)")
    assert(cusum(28L) == 0.0, "post-eviction stat must fold from empty state")
  }

  test("RocksDB: built-in windowed-aggregate state (OHLC bars, sliding counts) == batch, bitwise") {
    // Spark's own streaming-aggregation state (not custom
    // flatMapGroupsWithState carries) under the provider swap — the
    // min_by/max_by extremes in the bars are the bit-sensitive part
    val bars = withRocksDb {
      runComplete(streaming.EventsStreaming.ohlcBars(spark, sf), "r_ohlc")
    }
    val barsBatch = SparkEntry.queries("q_win_bars")(spark, sf)
      .select("event_type", "ws_us", "open", "close", "high", "low", "n", "total")
    assert(bars.count() > 0)
    assert(bars.exceptAll(barsBatch).count() == 0)
    assert(barsBatch.exceptAll(bars).count() == 0)

    val sliding = withRocksDb {
      runComplete(streaming.EventsStreaming.slidingTotals(spark, sf), "r_sliding")
    }
    val slidingBatch = SparkEntry.queries("q_win_sliding")(spark, sf)
      .select("ws_us", "n")
    assert(sliding.count() > 0)
    assert(sliding.exceptAll(slidingBatch).count() == 0)
    assert(slidingBatch.exceptAll(sliding).count() == 0)
  }

  test("RocksDB: funnel stage machine and drift counts == batch, bitwise") {
    import org.apache.spark.sql.functions._
    val perUser = withRocksDb {
      runUpdate(streaming.FunnelStream.stages(spark, sf), "r_funnel")
    }
    // fold per-user reached stages into the batch query's 3-row shape
    val funnelStreamed = Seq(("1_view", 1), ("2_click", 2), ("3_purchase", 3))
      .map { case (label, k) =>
        perUser.filter(col("stage") >= k)
          .agg(count(lit(1)).as("n_users"))
          .select(lit(label).as("stage"), col("n_users"))
      }.reduce(_ unionAll _)
    val funnelBatch = SparkEntry.queries("q_win_funnel")(spark, sf)
    assert(perUser.count() > 0)
    assert(funnelStreamed.exceptAll(funnelBatch).count() == 0)
    assert(funnelBatch.exceptAll(funnelStreamed).count() == 0)

    val counts = withRocksDb {
      runUpdate(streaming.DriftStream.halfCounts(spark, sf), "r_drift")
    }
    // fold with the batch query's exact rate/drift arithmetic
    val tot = counts.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    val ra = col("n_a").cast("double") / col("t_a").cast("double")
    val rb = col("n_b").cast("double") / col("t_b").cast("double")
    val driftStreamed = counts.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_a"), col("n_b"),
        ra.as("rate_a"), rb.as("rate_b"), abs(ra - rb).as("abs_drift"))
    val driftBatch = SparkEntry.queries("q_drift")(spark, sf)
    assert(counts.count() > 0)
    assert(driftStreamed.exceptAll(driftBatch).count() == 0)
    assert(driftBatch.exceptAll(driftStreamed).count() == 0)
  }

  test("RocksDB: stream-stream interval join and incremental dedup == batch, bitwise") {
    import org.apache.spark.sql.functions._
    // the stream-stream join buffers BOTH sides in the state store —
    // the largest state any operator here carries
    val joined = withRocksDb {
      runAppend(streaming.EventsStreaming.viewPurchaseJoin(spark, sf), "r_ssjoin")
    }
    val e = Tables.events(spark, sf)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("vts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pts_us"))
    val joinBatch = purchases.join(views,
        col("v_user") === col("user_id")
          && col("vts_us") >= col("pts_us") - 3600000000L
          && col("vts_us") <= col("pts_us"))
      .select(col("event_id"), col("user_id"), col("pts_us"), col("vts_us"))
    assert(joined.count() > 0)
    assert(joined.exceptAll(joinBatch).count() == 0)
    assert(joinBatch.exceptAll(joined).count() == 0)

    // incremental dedup is a stream-STATIC anti-join: the corpus side
    // broadcasts per batch and the operator holds NO keyed state — the
    // provider swap is a no-op for it, which is exactly its 100 TB
    // posture (the daily-ingest shape never shuffles or stores the
    // corpus). runStateless pins that claim on the empty state dir.
    val survivors = withRocksDb {
      runStateless(streaming.IncrementalDedupStream.survivors(spark, sf), "r_incdedup")
    }
    val dedupBatch = SparkEntry.queries("q_dedup_incremental")(spark, sf)
    assert(survivors.count() > 0)
    assert(survivors.exceptAll(dedupBatch).count() == 0)
    assert(dedupBatch.exceptAll(survivors).count() == 0)
  }

  test("RocksDB: streaming sessionize across 3 micro-batches == batch custom-state sessions, bitwise") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("value"))
    val Array(cutUs, maxUs) = ev
      .agg(percentile_approx(unix_micros(col("ts")), lit(0.5), lit(100)),
        max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val dir = java.nio.file.Files.createTempDirectory("rocks_session").toFile
    val t0 = System.currentTimeMillis() - 60000
    writeReplayFile(dir, ev.filter(unix_micros(col("ts")) < cutUs), "b1", t0)
    writeReplayFile(dir, ev.filter(unix_micros(col("ts")) >= cutUs), "b2", t0 + 10000)
    val sentinel = ev.limit(1).select(lit(-1L).as("user_id"),
      timestamp_micros(lit(maxUs + 3600000000L)).as("ts"), // +1 h > gap + wm delay
      lit(0.0).as("value"))
    writeReplayFile(dir, sentinel, "b3", t0 + 20000)
    val src = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val cols = Seq("user_id", "start_us", "end_us", "n", "total")
    val streamed = withRocksDb {
      runAppend(streaming.Sessionize.sessionsOfStream(src), "r_sessionize")
    }.select(cols.head, cols.tail: _*)
    val batch = SparkEntry.queries("q_session_state")(spark, sf)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }
}
