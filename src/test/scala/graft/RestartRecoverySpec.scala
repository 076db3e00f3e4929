package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Restart-from-checkpoint recovery — the 100 TB failure story the
  * state-carry tests don't cover (round-12 verdict, next-round #4).
  * StreamingSpec replays multi-micro-batch streams within ONE query
  * lifetime; these tests stop a query mid-replay and start a NEW query
  * from the same checkpoint directory: batches 1-2 run, the query
  * stops, a fresh query instance resumes from the checkpoint, batch 3
  * runs — and the cumulative output must equal an uninterrupted
  * 3-batch run bitwise. That exercises the recovery path a real
  * cluster hits on every executor loss, deploy, or driver restart:
  * source offsets, the persisted watermark, AND the keyed state store
  * must all reload such that the resumed query is indistinguishable
  * from one that never stopped.
  *
  * Coverage: the two richest custom-carry operators (Sessionize —
  * merged open sessions with event-time timeouts; LocfStream — the
  * (ts_us, event_id)-guarded observation carry) and one built-in-state
  * operator (watermarked tumbling window aggregate), each under BOTH
  * state-store providers (HDFS-backed default and RocksDB — their
  * on-disk checkpoint formats differ, so recovery must be proven per
  * provider, with the state dir asserted to carry that provider's
  * artifacts).
  *
  * Sink: the parquet file sink (exactly-once via _spark_metadata),
  * NOT the memory sink — Spark refuses to recover a memory-sink query
  * from a checkpoint, and the file sink is the shape a production
  * pipeline restarts anyway.
  *
  * Data is crafted so state genuinely straddles the restart: each
  * operator has keys whose state is CREATED in batches 1-2 but only
  * EMITTED (or extended) by batch 3 after the restart — a lost or
  * corrupt state reload cannot produce the uninterrupted output.
  */
class RestartRecoverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private val T = 1700000000000000L // anchor in us
  private def m(min: Long): Long = T + min * 60000000L

  private def tmpDir(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete()
      }
      rm(d)
    }
    d
  }

  /** One parquet file per micro-batch, mtime-staged so the file source
    * replays them oldest-first one per trigger (StreamingSpec's
    * protocol).
    */
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

  /** None = the HDFS-backed default; Some(RocksProvider) = the SHIPPED
    * RocksDB posture (graft.streaming.StatePosture — provider +
    * changelog checkpointing, the round-16 default), so the restart
    * tests prove recovery works against the changelog checkpoint
    * LAYOUT the library now writes, not just the snapshot one.
    */
  private def withProvider[A](provider: Option[String])(body: => A): A =
    provider match {
      case Some(_) => streaming.StatePosture.withRocksDb(spark)(body)
      case None =>
        val prev = spark.conf.getOption(ProviderKey)
        spark.conf.unset(ProviderKey)
        try body
        finally prev match {
          case Some(v) => spark.conf.set(ProviderKey, v)
          case None    => spark.conf.unset(ProviderKey)
        }
    }

  /** Start an append-mode query over the file source at `srcDir`,
    * drain everything available, stop. Each call constructs a FRESH
    * query instance — calling it twice with the same `ckDir`/`outDir`
    * IS the stop/restart sequence under test.
    */
  private def runPart(schemaDDL: String, srcDir: java.io.File,
                      ckDir: java.io.File, outDir: java.io.File,
                      mk: DataFrame => DataFrame): Unit = {
    val src = spark.readStream
      .schema(StructType.fromDDL(schemaDDL))
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
    val q = mk(src).writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir.getAbsolutePath)
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  private def stateFiles(ckDir: java.io.File): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
      else Seq(f.getName)
    walk(new java.io.File(ckDir, "state"))
  }

  /** Deepest per-store changelog lineage: changelog files grouped by
    * their store directory, max count. A flat count over ALL stores
    * (the pre-round-18 form) is satisfied by depth ⌈N/P⌉ once P
    * shuffle-partition stores each contribute — it never guaranteed any
    * single store actually had an N-deep lineage to replay (round-17
    * ADVICE).
    */
  private def changelogDepthPerStore(ckDir: java.io.File): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
      else Seq(f)
    val logs = walk(new java.io.File(ckDir, "state"))
      .filter(_.getName.contains("changelog"))
    if (logs.isEmpty) 0
    else logs.groupBy(_.getParentFile.getAbsolutePath).values.map(_.size).max
  }

  /** The restart-parity driver: batches 1-2 → stop → NEW query from the
    * same checkpoint → batch 3, vs an uninterrupted 3-batch run.
    */
  private def restartParity(name: String, provider: Option[String],
                            schemaDDL: String,
                            batches: Seq[DataFrame],
                            mk: DataFrame => DataFrame): Unit =
    withProvider(provider) {
      require(batches.size == 3)
      val t0 = System.currentTimeMillis() - 60000

      val srcA = tmpDir(s"${name}_srcA"); val ckA = tmpDir(s"${name}_ckA")
      val outA = tmpDir(s"${name}_outA")
      writeReplayFile(srcA, batches(0), "b1", t0)
      writeReplayFile(srcA, batches(1), "b2", t0 + 10000)
      runPart(schemaDDL, srcA, ckA, outA, mk) // batches 1-2, then stop
      val partial = spark.read.parquet(outA.getAbsolutePath).count()
      writeReplayFile(srcA, batches(2), "b3", t0 + 20000)
      runPart(schemaDDL, srcA, ckA, outA, mk) // fresh query, same checkpoint

      // the provider must actually have engaged in the restarted run
      val files = stateFiles(ckA)
      assert(files.nonEmpty, "no state files written")
      if (provider.isDefined) {
        assert(files.exists(f => f.endsWith(".zip") || f.contains("changelog")),
          s"RocksDB artifacts missing from state dir: $files")
        assert(!files.exists(_.endsWith(".delta")),
          "HDFS-provider .delta files present under the RocksDB provider")
      } else {
        assert(files.exists(_.endsWith(".delta")),
          s"HDFS-provider .delta files missing from state dir: $files")
      }

      val srcB = tmpDir(s"${name}_srcB"); val ckB = tmpDir(s"${name}_ckB")
      val outB = tmpDir(s"${name}_outB")
      writeReplayFile(srcB, batches(0), "b1", t0)
      writeReplayFile(srcB, batches(1), "b2", t0 + 10000)
      writeReplayFile(srcB, batches(2), "b3", t0 + 20000)
      runPart(schemaDDL, srcB, ckB, outB, mk) // never stopped

      val a = spark.read.parquet(outA.getAbsolutePath)
      val b = spark.read.parquet(outB.getAbsolutePath)
      assert(b.count() > 0, "uninterrupted run produced no rows")
      // the stop landed mid-output: some rows committed before the
      // restart, some only after — otherwise the test degenerates to
      // a fresh single-lifetime run and proves nothing about recovery
      assert(partial > 0 && partial < b.count(),
        s"restart boundary not mid-output: $partial of ${b.count()} rows pre-restart")
      assert(a.count() == b.count(),
        s"restarted ${a.count()} rows vs uninterrupted ${b.count()}")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "restarted output differs from the uninterrupted run")
    }

  // ---- sessionize (custom carry: merged open sessions) ----
  // u10's session spans b1+b2 and closes via watermark inside part 1;
  // u11's SECOND session is created by b2 (state at restart) and only
  // emitted after b3's sentinel pushes the watermark — emitted by the
  // restarted query from reloaded state.
  private def sessionBatches: Seq[DataFrame] = {
    import spark.implicits._
    def df(rows: Seq[(Long, Long, Double)]): DataFrame =
      rows.toDF("user_id", "us", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
    Seq(
      df(Seq((10L, m(0), 1.0), (10L, m(5), 2.0), (11L, m(4), 1.0))),
      df(Seq((10L, m(13), 0.25), (11L, m(60), 1.0))),
      df(Seq((-1L, m(200), 0.0))))
  }

  private val sessionDDL = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"

  test("sessionize survives restart-from-checkpoint (HDFS provider)") {
    restartParity("sess_hdfs", None, sessionDDL, sessionBatches,
      streaming.Sessionize.sessionsOfStream)
  }

  test("sessionize survives restart-from-checkpoint (RocksDB provider)") {
    restartParity("sess_rocks", Some(RocksProvider), sessionDDL, sessionBatches,
      streaming.Sessionize.sessionsOfStream)
  }

  // ---- LOCF (custom carry: guarded last observation) ----
  // b1/b2 build u20's carry (9.0 at m10 wins over 5.0 at m0); b3's
  // missing event at m12 (id 8, 8%7=1 < 3 → masked) must fill with the
  // RELOADED carry 9.0 — a lost state reload would serve the 0.0
  // fallback and break parity. The late present event at m2 must not
  // displace the newer carry (the (ts_us, event_id) guard, now proven
  // across a restart boundary too).
  private def locfBatches: Seq[DataFrame] = {
    import spark.implicits._
    def df(rows: Seq[(Long, Long, Long, Double)]): DataFrame =
      rows.toDF("user_id", "us", "event_id", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("value"))
    Seq(
      df(Seq((20L, m(0), 3L, 5.0), (20L, m(5), 1L, 8.0))),
      df(Seq((20L, m(10), 10L, 9.0))),
      df(Seq((20L, m(12), 8L, 1.0), (20L, m(2), 15L, 4.0))))
  }

  private val locfDDL = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"

  test("LOCF fills survive restart-from-checkpoint (HDFS provider)") {
    restartParity("locf_hdfs", None, locfDDL, locfBatches,
      streaming.LocfStream.fillsOf)
  }

  test("LOCF fills survive restart-from-checkpoint (RocksDB provider)") {
    restartParity("locf_rocks", Some(RocksProvider), locfDDL, locfBatches,
      streaming.LocfStream.fillsOf)
  }

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None    => spark.conf.unset(k)
    }
  }

  test("deep changelog replay: 7 commits with maintenance parked restore bit-identically") {
    // The round-17 restore measurement (SCALE.md §"restart recovery
    // under the changelog default") priced depth-15 replay WALLS; this
    // pins the CORRECTNESS half that measurement does not check. With
    // background maintenance parked (no snapshot ever uploads under
    // changelog checkpointing), the restarted
    // query's ONLY path back to its state is replaying the full 7-deep
    // changelog — asserted below by counting changelog files in the
    // checkpoint before the restart. u41 carries ONE session whose
    // state grew in EVERY pre-restart batch (its events are ≤7 min
    // apart across batch boundaries, under the 10-min gap), so a
    // dropped, truncated, or out-of-order changelog replay cannot
    // reproduce the uninterrupted output.
    streaming.StatePosture.withRocksDb(spark) {
      withConf("spark.sql.streaming.stateStore.maintenanceInterval", "3600s") {
        import spark.implicits._
        def df(rows: Seq[(Long, Long, Double)]): DataFrame =
          rows.toDF("user_id", "us", "value")
            .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
        // batch i: one isolated u40 session (20-min cadence > gap) that
        // closes two batches later, plus three u41 events that keep its
        // single session open across every boundary
        val batches = (0 until 7).map { i =>
          df(Seq(
            (40L, m(i * 20 + 1), i + 1.0),
            (41L, m(i * 20), i + 0.25), (41L, m(i * 20 + 7), 0.5),
            (41L, m(i * 20 + 14), 0.125)))
        } :+ df(Seq((-1L, m(2000), 0.0))) // sentinel flushes everything
        val t0 = System.currentTimeMillis() - 120000

        val srcA = tmpDir("deep_srcA"); val ckA = tmpDir("deep_ckA")
        val outA = tmpDir("deep_outA")
        batches.init.zipWithIndex.foreach { case (b, i) =>
          writeReplayFile(srcA, b, f"b$i%02d", t0 + i * 10000) }
        runPart(sessionDDL, srcA, ckA, outA, streaming.Sessionize.sessionsOfStream)
        val partial = spark.read.parquet(outA.getAbsolutePath).count()
        // PER-STORE depth (round-17 ADVICE): the flat all-stores count
        // was satisfied by ⌈7/P⌉-deep lineages once every shuffle
        // partition's store contributed files — this asserts a single
        // store really carries the 7-deep lineage the replay must walk
        val depth = changelogDepthPerStore(ckA)
        assert(depth >= 7,
          s"expected a >=7-deep per-store changelog lineage to replay, found $depth")
        writeReplayFile(srcA, batches.last, "b07", t0 + 80000)
        runPart(sessionDDL, srcA, ckA, outA, streaming.Sessionize.sessionsOfStream)

        val srcB = tmpDir("deep_srcB"); val ckB = tmpDir("deep_ckB")
        val outB = tmpDir("deep_outB")
        batches.zipWithIndex.foreach { case (b, i) =>
          writeReplayFile(srcB, b, f"b$i%02d", t0 + i * 10000) }
        runPart(sessionDDL, srcB, ckB, outB, streaming.Sessionize.sessionsOfStream)

        val a = spark.read.parquet(outA.getAbsolutePath)
        val b = spark.read.parquet(outB.getAbsolutePath)
        assert(b.count() > 0, "uninterrupted run produced no rows")
        assert(partial > 0 && partial < b.count(),
          s"restart boundary not mid-output: $partial of ${b.count()} rows pre-restart")
        assert(a.count() == b.count(),
          s"restarted ${a.count()} rows vs uninterrupted ${b.count()}")
        assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
          "deep-replay restart output differs from the uninterrupted run")
      }
    }
  }

  // ---- built-in windowed aggregate (Spark-managed state) ----
  // Hour-0 closes inside part 1 (b2's m95 row pushes the watermark to
  // m65); hour-1's state is created in part 1 (m70, m95) and EXTENDED
  // by the restarted query (m100) before b3's sentinel closes it — the
  // reloaded window state must merge with post-restart rows exactly.
  private def winBatches: Seq[DataFrame] = {
    import spark.implicits._
    def df(rows: Seq[(Long, Long, Double)]): DataFrame =
      rows.toDF("user_id", "us", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
    Seq(
      df(Seq((30L, m(0), 1.0), (30L, m(10), 2.0), (31L, m(5), 1.5))),
      df(Seq((30L, m(20), 3.0), (30L, m(70), 1.0), (30L, m(95), 0.5))),
      df(Seq((30L, m(100), 5.0), (-1L, m(200), 0.0))))
  }

  private def winAgg(src: DataFrame): DataFrame =
    src.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("user_id"),
        col("n"), col("cents"))

  test("windowed aggregate survives restart-from-checkpoint (HDFS provider)") {
    restartParity("win_hdfs", None, sessionDDL, winBatches, winAgg)
  }

  test("windowed aggregate survives restart-from-checkpoint (RocksDB provider)") {
    restartParity("win_rocks", Some(RocksProvider), sessionDDL, winBatches, winAgg)
  }
}
