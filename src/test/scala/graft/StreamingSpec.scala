package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.streaming.EventsStreaming

/** Streaming tier validation: run the streaming window aggregations to
  * completion over the static sf0.001 events parquet and compare with
  * the equivalent batch queries.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  /** Write `df` as a single parquet file `name.parquet` under `dir`
    * with the given mtime — the file source replays oldest-first, so
    * staged mtimes turn a directory into a deterministic multi-
    * micro-batch replay (one file per trigger).
    */
  private def writeReplayFile(dir: java.io.File, df: org.apache.spark.sql.DataFrame,
                              name: String, modMs: Long): Unit = {
    val stage = new java.io.File(dir, s"_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    val target = new java.io.File(dir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, target.toPath)
    target.setLastModified(modMs)
    stage.listFiles().foreach(_.delete()); stage.delete()
  }

  test("streaming tumbling counts == batch tumbling counts") {
    val streamed = EventsStreaming.runToCompletion(spark,
      EventsStreaming.tumblingCounts(spark, sf), "t_tumbling")
    val batch = SparkEntry.queries("q_win_tumbling")(spark, sf)
      .select("ws_us", "event_type", "n")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming session windows == batch session windows") {
    val streamed = EventsStreaming.runToCompletion(spark,
      EventsStreaming.sessionCounts(spark, sf), "t_session")
    val batch = SparkEntry.queries("q_win_session")(spark, sf)
      .select("user_id", "start_us", "end_us", "n")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming OHLC bars == batch OHLC bars") {
    val streamed = EventsStreaming.runToCompletion(spark,
      EventsStreaming.ohlcBars(spark, sf), "t_ohlc")
    val batch = SparkEntry.queries("q_win_bars")(spark, sf)
      .select("event_type", "ws_us", "open", "close", "high", "low", "n", "total")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream interval join == batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      EventsStreaming.viewPurchaseJoin(spark, sf), "t_ssjoin")
    val e = Tables.events(spark, sf)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("vts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pts_us"))
    val batch = purchases.join(views,
        col("v_user") === col("user_id")
          && col("vts_us") >= col("pts_us") - 3600000000L
          && col("vts_us") <= col("pts_us"))
      .select(col("event_id"), col("user_id"), col("pts_us"), col("vts_us"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming exact dedup == batch distinct key pairs") {
    import org.apache.spark.sql.functions._
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      EventsStreaming.dedupPairs(spark, sf), "t_dedup")
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("watermark-bounded dedup == exact dedup over one micro-batch") {
    import org.apache.spark.sql.functions._
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      EventsStreaming.dedupPairsBounded(spark, sf), "t_dedup_wm")
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming EWMA (mapGroupsWithState) == batch EWMA fold, bitwise") {
    import org.apache.spark.sql.functions._
    val streamed = EventsStreaming.runUpdateToCompletion(spark,
      streaming.EwmaStream.ewma(spark, sf), "t_ewma")
      .select(col("user_id"), col("n_events").cast("int").as("n_events"),
        col("ewma"))
    val batch = SparkEntry.queries("q_win_ewma")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming funnel stages (mapGroupsWithState) == batch funnel counts") {
    import org.apache.spark.sql.functions._
    val perUser = EventsStreaming.runUpdateToCompletion(spark,
      streaming.FunnelStream.stages(spark, sf), "t_funnel")
    // fold per-user reached stages into the batch query's 3-row shape:
    // n_users at stage k = users whose reached stage >= k
    val streamed = Seq(("1_view", 1), ("2_click", 2), ("3_purchase", 3))
      .map { case (label, k) =>
        perUser.filter(col("stage") >= k)
          .agg(count(lit(1)).as("n_users"))
          .select(lit(label).as("stage"), col("n_users"))
      }.reduce(_ unionAll _)
    val batch = SparkEntry.queries("q_win_funnel")(spark, sf)
    assert(perUser.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming sliding counts == batch sliding counts") {
    val streamed = EventsStreaming.runToCompletion(spark,
      EventsStreaming.slidingTotals(spark, sf), "t_sliding")
    val batch = SparkEntry.queries("q_win_sliding")(spark, sf)
      .select("ws_us", "n")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming transition pairs (flatMapGroupsWithState) == batch transition matrix") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val pairs = EventsStreaming.runAppendToCompletion(spark,
      streaming.TransitionStream.pairs(spark, sf), "t_transitions")
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
  }

  test("stream-static enrichment join == batch dim join") {
    import org.apache.spark.sql.functions._
    val streamed = EventsStreaming.runUpdateToCompletion(spark,
      EventsStreaming.enrichedSegmentCounts(spark, sf), "t_enrich")
    val batch = Tables.events(spark, sf)
      .join(spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("max_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming drift counts (watermarked agg) == batch drift monitor") {
    import org.apache.spark.sql.functions._
    val counts = EventsStreaming.runUpdateToCompletion(spark,
      streaming.DriftStream.halfCounts(spark, sf), "t_drift")
    // fold the |types|-row streamed counts with the batch query's exact
    // rate/drift arithmetic (double division of exact ints)
    val tot = counts.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    val ra = col("n_a").cast("double") / col("t_a").cast("double")
    val rb = col("n_b").cast("double") / col("t_b").cast("double")
    val streamed = counts.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_a"), col("n_b"),
        ra.as("rate_a"), rb.as("rate_b"), abs(ra - rb).as("abs_drift"))
    val batch = SparkEntry.queries("q_drift")(spark, sf)
    assert(counts.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming PIT features (flatMapGroupsWithState) == batch point-in-time join") {
    import org.apache.spark.sql.functions._
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.PitStream.features(spark, sf), "t_pit")
      .select("event_id", "user_id", "purchase_us",
        "f_last_view_value", "f_last_click_value", "f_n_signups")
    val batch = SparkEntry.queries("q_join_pit")(spark, sf)
      .select("event_id", "user_id", "purchase_us",
        "f_last_view_value", "f_last_click_value", "f_n_signups")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming last-touch attribution (flatMapGroupsWithState) == batch attribution") {
    import org.apache.spark.sql.functions._
    val credits = EventsStreaming.runAppendToCompletion(spark,
      streaming.AttributionStream.credits(spark, sf), "t_attribution")
    // fold the streamed per-purchase credits with the batch query's
    // exact decimal arithmetic (order-independent, so stream == batch)
    val streamed = credits.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(Tables.Dec2)).cast(Tables.Dec382).as("total_value"))
    val batch = SparkEntry.queries("q_attribution")(spark, sf)
    assert(credits.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming rolling median (flatMapGroupsWithState) == batch window median") {
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.RollMedianStream.medians(spark, sf), "t_rollmedian")
      .select("event_id", "user_id", "n_frame", "roll_median")
    val batch = SparkEntry.queries("q_win_rollmedian")(spark, sf)
      .select("event_id", "user_id", "n_frame", "roll_median")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-static anti-join incremental dedup == batch incremental dedup") {
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.IncrementalDedupStream.survivors(spark, sf), "t_incdedup")
    val batch = SparkEntry.queries("q_dedup_incremental")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming CUSUM (flatMapGroupsWithState) == batch closed-form windows, bitwise") {
    val (n, sumCents) = streaming.CusumStream.referenceStats(spark, sf)
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.CusumStream.stats(spark, sf, n, sumCents), "t_cusum")
      .select("event_id", "user_id", "tus", "cusum", "alarm")
    val batch = SparkEntry.queries("q_win_cusum")(spark, sf)
      .select("event_id", "user_id", "tus", "cusum", "alarm")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming LOCF imputation (flatMapGroupsWithState) == batch window fill") {
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.LocfStream.fills(spark, sf), "t_locf")
      .select("event_id", "user_id", "tus", "was_missing", "v_filled")
    val batch = SparkEntry.queries("q_impute_locf")(spark, sf)
      .select("event_id", "user_id", "tus", "was_missing", "v_filled")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming debounce across 3 micro-batches == batch keep-first-per-burst, bitwise") {
    // The round-9 advisor finding: the old replay-only implementation
    // flushed + cleared state every invocation, so a burst spanning
    // micro-batches silently split in two. This drives the REAL
    // multi-batch path: events time-split into two files (bursts
    // straddle the cut and must chain through state), processed one
    // file per trigger, plus a far-future sentinel row (user -1, never
    // emitted: its own burst stays open) whose only job is to push the
    // watermark past every real burst's last_tus + gap so the
    // event-time timeouts fire and flush them.
    import org.apache.spark.sql.functions._
    val cols = Seq("event_id", "user_id", "event_type", "tus", "burst_n")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    val Array(cutUs, maxUs) = ev
      .agg(percentile_approx(unix_micros(col("ts")), lit(0.5), lit(100)),
        max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val dir = java.nio.file.Files.createTempDirectory("debounce_replay").toFile
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
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.DebounceStream.survivorsOf(src), "t_debounce")
      .select(cols.head, cols.tail: _*)
    val batch = SparkEntry.queries("q_win_debounce")(spark, sf)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming sessionize across 3 micro-batches == batch custom-state sessions, bitwise") {
    // Same protocol as the debounce test, for the custom-state
    // sessionizer: sessions straddling the time-split cut must chain
    // through state (an open session carries over and the next batch's
    // events extend it), and the far-future sentinel (user -1, its own
    // session never emitted) pushes the watermark past every real
    // session's last_us + gap so the event-time timeouts flush them.
    // Compared bitwise against q_session_state — the batch form of the
    // SAME foldEvents chain rule, itself oracle-gated against DuckDB.
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("value"))
    val Array(cutUs, maxUs) = ev
      .agg(percentile_approx(unix_micros(col("ts")), lit(0.5), lit(100)),
        max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val dir = java.nio.file.Files.createTempDirectory("session_replay").toFile
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
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.Sessionize.sessionsOfStream(src), "t_sessionize")
      .select(cols.head, cols.tail: _*)
    val batch = SparkEntry.queries("q_session_state")(spark, sf)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("sessionize absorbs cross-batch OUT-OF-ORDER events: in-span, backward-extend, straggler") {
    // Events inside one micro-batch arrive sorted, but across batches
    // an event may precede the carried open session by up to the
    // watermark delay (30 min) — which EXCEEDS the 10 min session gap,
    // so every disorder regime below is reachable in production. The
    // old fold set last_us unconditionally, so an in-span late event
    // REGRESSED the session end (and the close timeout) and a
    // pre-start event corrupted start. Crafted 4-batch replay, all
    // micro-batch boundaries hand-picked so no event falls behind the
    // global watermark:
    //  - user 10: b1 = T+0, T+5 min; b2 = T+2 min (in-span: must only
    //    bump n/total); b3 = T+13 min (chains ONLY if last stayed
    //    T+5 — under the old regressed last of T+2 it would split).
    //  - user 11: b1 = T+4; b2 = T-4 (8 min BEFORE start, inside the
    //    gap: start must move backward).
    //  - user 12: b1 = T+5; b2 = T-20 (a full gap before start: its
    //    own singleton session; the open session must stay open).
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L // anchor in us
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("session_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((10L, m(0), 1.0), (10L, m(5), 2.0),
      (11L, m(4), 1.0), (12L, m(5), 1.0)))
    batch("b2", t0 + 10000, Seq((10L, m(2), 0.5), (11L, m(-4), 1.0), (12L, m(-20), 1.0)))
    batch("b3", t0 + 20000, Seq((10L, m(13), 0.25)))
    batch("b4", t0 + 30000, Seq((-1L, m(100), 0.0))) // watermark sentinel
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val streamed = EventsStreaming.runAppendToCompletion(spark,
      streaming.Sessionize.sessionsOfStream(src), "t_session_ooo")
      .select(col("user_id"), col("start_us"), col("end_us"), col("n"),
        col("total").cast("double").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val gap = streaming.Sessionize.GapUs
    val expected = Set(
      (10L, m(0), m(13) + gap, 4L, 3.75),
      (11L, m(-4), m(4) + gap, 2L, 2.0),
      (12L, m(-20), m(-20) + gap, 1L, 1.0),
      (12L, m(5), m(5) + gap, 1L, 1.0))
    assert(streamed == expected,
      s"got ${streamed.toSeq.sortBy(t => (t._1, t._2))}")
  }

  test("LOCF carries the max-event-time observation: a cross-batch late value cannot mask a newer one") {
    // The last-observation guard shared by LOCF / PIT / attribution: a
    // late-arriving observation (older event time, within the 30 min
    // watermark delay) must not replace the carried newer value for
    // future fills. Old fold: batch-2's late value 9.0 overwrote the
    // carried 5.0 and batch-3's missing event filled with 9.0.
    // event_id % 7 < 3 is the missing mask (ids 3, 10 present; 1
    // missing).
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("locf_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((20L, m(10), 3L, 5.0)))
    batch("b2", t0 + 10000, Seq((20L, m(2), 10L, 9.0))) // late, older obs
    batch("b3", t0 + 20000, Seq((20L, m(12), 1L, 0.0))) // missing -> fill
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = EventsStreaming.runAppendToCompletion(spark,
      streaming.LocfStream.fillsOf(src), "t_locf_ooo")
      .collect().map(r => (r.getLong(0), r.getBoolean(3), r.getDouble(4))).toSet
    assert(got == Set((3L, false, 5.0), (10L, false, 9.0), (1L, true, 5.0)),
      s"got $got — the missing event at m(12) must fill with the NEWER obs 5.0")
  }

  test("LOCF fill never reads an event-time-future observation: a cross-batch late missing event serves the fallback") {
    // The round-12 symmetry fix: a late MISSING event (older event
    // time, within the watermark delay) whose only carried observation
    // lies in its event-time FUTURE must fill with 0.0 — the batch
    // query's preceding-rows window sees no observation before m(2),
    // so serving the newer 5.0 would be training-serving skew (the
    // same strictly-before guard PIT and attribution apply on emit).
    // User 22 pins the documented RESIDUAL of the O(1) carry: its late
    // missing event at m(5) had an older observation (m(1), 3.0) that
    // was superseded by (m(10), 5.0) before the late event arrived —
    // batch would fill 3.0, but that value is gone from O(1) state, so
    // the stream serves the fallback 0.0 (never the future 5.0; a
    // buffer of past observations, not a carry, would be needed to
    // serve 3.0). event_id % 7 < 3 is the missing mask.
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("locf_futfill").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((21L, m(10), 3L, 5.0),
      (22L, m(1), 17L, 3.0), (22L, m(10), 24L, 5.0)))
    batch("b2", t0 + 10000, Seq((21L, m(2), 1L, 0.0), // late AND missing
      (22L, m(5), 8L, 0.0)))                          // late, missing, had older obs
    batch("b3", t0 + 20000, Seq((21L, m(12), 8L, 0.0))) // missing -> fill 5.0
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = EventsStreaming.runAppendToCompletion(spark,
      streaming.LocfStream.fillsOf(src), "t_locf_futfill")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getBoolean(3), r.getDouble(4))).toSet
    assert(got == Set(
      (21L, 3L, false, 5.0), (21L, 1L, true, 0.0), (21L, 8L, true, 5.0),
      (22L, 17L, false, 3.0), (22L, 24L, false, 5.0), (22L, 8L, true, 0.0)),
      s"got $got — late missing fills must never read a future obs; the superseded older obs serves the fallback")
  }

  test("attribution carries the max-event-time touch: a cross-batch late click cannot beat a newer view") {
    // Same guard as LOCF, for the last-touch slot: user 30 views at
    // m(10) (batch 1), a LATE click at m(2) arrives in batch 2 (within
    // the 30 min watermark delay), the purchase at m(12) lands in
    // batch 3. Last touch by event time is the VIEW; the old fold let
    // the late click overwrite it.
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("attr_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((30L, m(10), 1L, "view", 0.0)))
    batch("b2", t0 + 10000, Seq((30L, m(2), 2L, "click", 0.0))) // late touch
    batch("b3", t0 + 20000, Seq((30L, m(12), 3L, "purchase", 7.5)))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = EventsStreaming.runAppendToCompletion(spark,
      streaming.AttributionStream.creditsOf(src), "t_attr_ooo")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((30L, "view", 7.5)),
      s"got $got — the purchase must credit the NEWER view, not the late click")
  }

  test("transitions keep the max-(ts, event_id) predecessor across a late batch") {
    // user 40 views at m(10); a LATE click at m(2) lands in batch 2;
    // the purchase at m(12) lands in batch 3. The late click emits its
    // own (view -> click) pair (the bounded-disorder approximation),
    // but the carried predecessor must STAY the newer view, so the
    // purchase pairs as (view -> purchase) — the old fold carried the
    // late click and emitted (click -> purchase).
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("trans_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, String)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type")),
        name, mod)
    }
    batch("b1", t0, Seq((40L, m(10), 1L, "view")))
    batch("b2", t0 + 10000, Seq((40L, m(2), 2L, "click"))) // late
    batch("b3", t0 + 20000, Seq((40L, m(12), 3L, "purchase")))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = EventsStreaming.runAppendToCompletion(spark,
      streaming.TransitionStream.pairsOf(src), "t_trans_ooo")
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(got == Set(("view", "click"), ("view", "purchase")),
      s"got $got — the purchase's predecessor must be the newer view")
  }

  test("PIT feature slots follow event time: a cross-batch late view cannot mask a newer one") {
    // user 50 views 2.0 at m(10); a LATE view 9.0 at m(2) arrives in
    // batch 2; the purchase at m(12) lands in batch 3 and must read
    // f_last_view_value = 2.0 (the old fold let the late view
    // overwrite the newer slot and served 9.0 — a training-serving
    // skew bug: the batch PIT join always picks the latest prior row).
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("pit_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((50L, m(10), 1L, "view", 2.0)))
    batch("b2", t0 + 10000, Seq((50L, m(2), 2L, "view", 9.0))) // late view
    batch("b3", t0 + 20000, Seq((50L, m(12), 3L, "purchase", 0.0)))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = EventsStreaming.runAppendToCompletion(spark,
      streaming.PitStream.featuresOf(src), "t_pit_ooo")
      .collect().map(r => (r.getLong(1), Option(r.get(3)))).toSet
    assert(got == Set((50L, Some(2.0))),
      s"got $got — the purchase must read the NEWER view value 2.0")
  }

  test("a cross-batch late purchase never reads a future slot: PIT serves None, attribution credits none") {
    // user 70 views 2.0 at m(10) (batch 1); a LATE purchase at m(2)
    // arrives in batch 2, within the 30 min watermark delay. The
    // carried view is AFTER the purchase in event time, so serving it
    // would leak the future vs the batch PIT oracle: the emit guard
    // must serve None (PIT) / credit "none" (attribution) instead.
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("late_purchase").toFile
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
    val pit = EventsStreaming.runAppendToCompletion(spark,
      streaming.PitStream.featuresOf(src), "t_pit_latep")
      .collect().map(r => (r.getLong(1), Option(r.get(3)), r.getLong(5))).toSet
    assert(pit == Set((70L, None, 0L)),
      s"got $pit — the late purchase must not read the m(10) view from its future")
    val attr = EventsStreaming.runAppendToCompletion(spark,
      streaming.AttributionStream.creditsOf(src), "t_attr_latep")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(attr == Set((70L, "none", 7.5)),
      s"got $attr — the late purchase must not credit the m(10) view from its future")
  }

  test("equal-timestamp cross-batch carries break ties on event_id: PIT slot keeps the larger-id winner") {
    // user 80: view 5.0 at (m(10), eid 10) in batch 1; a late view 9.0
    // at the SAME timestamp with a SMALLER event_id (m(10), eid 2)
    // arrives in batch 2. The (ts_us, event_id) total order says eid 10
    // is the winner — a ts-only >= guard would let the late row
    // overwrite it. The purchase at m(12) must read 5.0.
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("pit_tie").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((80L, m(10), 10L, "view", 5.0)))
    batch("b2", t0 + 10000, Seq((80L, m(10), 2L, "view", 9.0))) // same ts, smaller id
    batch("b3", t0 + 20000, Seq((80L, m(12), 20L, "purchase", 0.0)))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = EventsStreaming.runAppendToCompletion(spark,
      streaming.PitStream.featuresOf(src), "t_pit_tie")
      .collect().map(r => (r.getLong(1), Option(r.get(3)))).toSet
    assert(got == Set((80L, Some(5.0))),
      s"got $got — the equal-ts carry must keep eid 10's value 5.0")
  }

  test("equal-timestamp cross-batch carries break ties on event_id: LOCF keeps the larger-id observation") {
    // user 81: present obs 5.0 at (m(10), eid 10) in batch 1; a late
    // present obs 9.0 at the SAME timestamp with a SMALLER event_id
    // (m(10), eid 3) in batch 2; the missing event (eid 1, 1%7<3) at
    // m(12) must fill with 5.0 — eid 10 wins the (ts_us, event_id)
    // total order.
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("locf_tie").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, Double)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "value")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("value")),
        name, mod)
    }
    batch("b1", t0, Seq((81L, m(10), 10L, 5.0)))
    batch("b2", t0 + 10000, Seq((81L, m(10), 3L, 9.0))) // same ts, smaller id
    batch("b3", t0 + 20000, Seq((81L, m(12), 1L, 0.0))) // missing -> fill
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val got = EventsStreaming.runAppendToCompletion(spark,
      streaming.LocfStream.fillsOf(src), "t_locf_tie")
      .collect().map(r => (r.getLong(0), r.getBoolean(3), r.getDouble(4))).toSet
    assert(got == Set((10L, false, 5.0), (3L, false, 9.0), (1L, true, 5.0)),
      s"got $got — the missing event must fill with eid 10's value 5.0")
  }

  test("funnel slots move earlier on a cross-batch late view, unlocking later clicks") {
    // user 60: a view lands at m(10) (batch 1); the TRUE first view at
    // m(2) arrives late in batch 2; a click at m(7) lands in batch 3.
    // Batch semantics (min-aggregates): first view m(2), click m(7) >
    // m(2) qualifies -> stage 2. The old fill-once machine kept view =
    // m(10) and rejected the click -> stage 1. Stage is monotone per
    // batch, so max(stage) over the update-mode sink is the final.
    import org.apache.spark.sql.functions._
    val T = 1700000000000000L
    def m(min: Long): Long = T + min * 60000000L
    val dir = java.nio.file.Files.createTempDirectory("funnel_ooo").toFile
    val t0 = System.currentTimeMillis() - 60000
    def batch(name: String, mod: Long, rows: Seq[(Long, Long, Long, String)]): Unit = {
      import spark.implicits._
      writeReplayFile(dir,
        rows.toDF("user_id", "us", "event_id", "event_type")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            col("event_id"), col("event_type")),
        name, mod)
    }
    batch("b1", t0, Seq((60L, m(10), 1L, "view")))
    batch("b2", t0 + 10000, Seq((60L, m(2), 2L, "view"))) // true first view, late
    batch("b3", t0 + 20000, Seq((60L, m(7), 3L, "click")))
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
    val finalStage = EventsStreaming.runUpdateToCompletion(spark,
      streaming.FunnelStream.stagesOf(src), "t_funnel_ooo")
      .agg(max(col("stage"))).head().getInt(0)
    assert(finalStage == 2,
      s"got stage $finalStage — the late first view must unlock the m(7) click")
  }

  test("per-event carry streams chain state across micro-batches and evict past the idle horizon") {
    // The two cross-batch behaviors a single-batch replay can never
    // exercise, pinned on a crafted 4-batch replay shared by LOCF and
    // CUSUM (both per-event carry streams with a 24 h idle eviction):
    //  - CHAINING: user 1's batch-2 event must see the state from
    //    batch 1 (LOCF fill = carried 5.0, not the 0.0 fallback;
    //    CUSUM stat = carried cumsum, not a fresh 0).
    //  - EVICTION: user 2 is idle > 24 h while user 3's events push
    //    the watermark past its timeout in a batch where user 2 has
    //    NO data (Spark only fires hasTimedOut for data-less groups);
    //    user 2's later event must then fold from EMPTY state (LOCF
    //    fill = 0.0 fallback where the carried value would be 7.0;
    //    CUSUM stat = 0 where the carried cumsum would give 2.0).
    import org.apache.spark.sql.functions._
    val T0 = 1735689600000000L // 2025-01-01 00:00:00 UTC, micros
    val H = 3600000000L; val Min = 60000000L
    def batchDf(rows: Seq[(Long, Long, Long, Double)]) =
      spark.createDataFrame(rows).toDF("user_id", "us", "event_id", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("value"))
    // event_id mod 7 < 3 ⇒ LOCF masks the value as missing
    val b1 = batchDf(Seq((1L, T0, 3L, 5.0), (2L, T0, 10L, 7.0)))          // both present
    val b2 = batchDf(Seq((1L, T0 + 10 * Min, 7L, 99.0),                   // missing for LOCF
      (3L, T0 + 25 * H, 14L, 1.0)))                                       // missing; wm pusher
    val b3 = batchDf(Seq((3L, T0 + 26 * H, 21L, 1.0)))                    // users 1,2 time out here
    val b4 = batchDf(Seq((2L, T0 + 27 * H, 28L, 2.0)))                    // missing; post-eviction
    val dir = java.nio.file.Files.createTempDirectory("carry_replay").toFile
    val t0 = System.currentTimeMillis() - 60000
    Seq(b1, b2, b3, b4).zipWithIndex.foreach { case (df, i) =>
      writeReplayFile(dir, df, s"b${i + 1}", t0 + i * 10000)
    }
    def src = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.getAbsolutePath)

    val locf = EventsStreaming.runAppendToCompletion(spark,
      streaming.LocfStream.fillsOf(src), "t_locf_mb")
      .select("event_id", "was_missing", "v_filled")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getDouble(2))).toMap
    assert(locf.size == 6)
    assert(locf(3L) == (false, 5.0) && locf(10L) == (false, 7.0))
    assert(locf(7L) == (true, 5.0), "batch-2 fill must carry batch-1 state")
    assert(locf(14L) == (true, 0.0) && locf(21L) == (true, 0.0))
    assert(locf(28L) == (true, 0.0),
      "post-eviction fill must fall back to 0.0, not the pre-eviction 7.0")

    // n=1, Σcents=0 ⇒ dev = cents: stats are pure running cs − min(cs)
    val cusum = EventsStreaming.runAppendToCompletion(spark,
      streaming.CusumStream.statsOf(src, 1L, 0L), "t_cusum_mb")
      .select("event_id", "cusum", "alarm")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(cusum.size == 6)
    assert(cusum(3L)._1 == 0.0 && cusum(10L)._1 == 0.0 && cusum(14L)._1 == 0.0)
    assert(cusum(7L)._1 == 99.0, "batch-2 stat must fold onto batch-1 cumsum")
    assert(cusum(21L)._1 == 1.0, "user 3 chains b2→b3 (inside horizon)")
    assert(cusum(28L)._1 == 0.0,
      "post-eviction stat must restart from empty state, not carry 2.0")
    assert(cusum.values.forall(!_._2))
  }
}
