package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Memory-pressure audit — the measured counterpart to SCALE.md's
  * "executor memory scales with partition SIZE, not corpus size" claim.
  * At 100 TB an executor's share of a shuffle partition routinely
  * exceeds its heap slice; the correct behavior is to SPILL (sort
  * external-sort runs, hash aggregates falling back to sort-based
  * merge, window/join buffers paging to disk) and produce the identical
  * result, never to OOM and never to change an answer because a buffer
  * crossed its in-memory bound. No fixed-memory gate can see that —
  * only actually forcing the spill paths can.
  *
  * Three [[Digest]]s per query, all at sf0.001:
  *
  *  1. **Truth** — a vanilla `local[4]` session, nothing forced (the
  *     same conditions every other gate runs under).
  *  2. **Sorter pressure** — a session whose context sets
  *     `spark.shuffle.spill.numElementsForceSpillThreshold = 4096`, so
  *     every UnsafeExternalSorter / ShuffleExternalSorter (sort exec,
  *     shuffle writes, agg fallback sorters) force-spills a run to disk
  *     every 4096 rows: many small runs, real spill-file merge paths.
  *  3. **Operator-buffer pressure** — same context, plus the SQL-level
  *     bounds dropped: window and sort-merge-join
  *     ExternalAppendOnlyUnsafeRowArray buffers page to disk at 16
  *     rows, hash aggregation falls back to sort-based merge after 3000
  *     keys (`spark.sql.TungstenAggregate.testFallbackStartsAt` — high-
  *     cardinality aggregates take it; the threshold bounds spill-FILE
  *     counts, see the conf comments), and typed/ObjectHashAggregate
  *     (collect/sketch aggregates) falls back at 2 groups. This drives
  *     the code paths a memory-starved executor takes, with plans
  *     UNCHANGED (the confs alter runtime buffering, not operator
  *     choice).
  *
  * All three must be bit-identical per query. A listener accumulates
  * task-level spill metrics during the forced runs; a final test pins
  * that the pressure actually engaged (structural floor on spilled
  * bytes and on how many queries spilled), so the suite can never decay
  * into not forcing anything.
  *
  * Order-sensitivity note: every collect_list/collect_set in the
  * inventory is array_sort/sort_array-canonicalized, so a sort-based
  * merge order change MUST not be visible; this suite is the gate that
  * keeps that true as the inventory evolves.
  */
class SpillSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private def digest(spark: SparkSession, name: String): Digest =
    Digest.of(SparkEntry.queries(name)(spark, sf))

  /** Truth pass: vanilla session, computed once on first access, then
    * stopped so the pressured context can be built. */
  private lazy val truth: Map[String, Digest] = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val vanilla = SparkEntry.localSession(4)
    val fps = SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> digest(vanilla, n)).toMap
    vanilla.stop()
    fps
  }

  private lazy val spark: SparkSession = {
    truth // force the vanilla pass (and its stop) first
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // context-level: every sorter (sort exec, shuffle write, agg
      // fallback) force-spills a run every 4096 rows. Each open spill
      // file costs ≥1 MB of reader buffer at merge time (the
      // ConfigBuilder floor), so the thresholds below are chosen to
      // force MANY spills without forcing THOUSANDS of files per task
      // — a first cut with spill-every-3-keys aggregation OOMed the
      // heap purely on reader buffers, which is itself a documented
      // scale lesson (SCALE.md §forced-spill): spill file count, not
      // spilled bytes, is the merge-side memory driver.
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "4096")
      .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
      .getOrCreate()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spilledDisk.addAndGet(m.diskBytesSpilled)
          spilledMem.addAndGet(m.memoryBytesSpilled)
        }
      }
    })
    s
  }

  private val spilledDisk = new java.util.concurrent.atomic.AtomicLong()
  private val spilledMem = new java.util.concurrent.atomic.AtomicLong()
  private val spilledQueries = mutable.Set[String]()

  private val bufferPressure = Seq(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "4",
    "spark.sql.windowExec.buffer.spill.threshold" -> "16",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "4",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "16",
    "spark.sql.cartesianProductExec.buffer.in.memory.threshold" -> "4",
    "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "16",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "4",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "16",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
    // fall back to sort-based aggregation after 3000 keys per task:
    // exercised by every high-cardinality aggregate (distinct keys,
    // trigram/term profiles) while keeping spill-file counts bounded
    // (a per-few-keys fallback creates groups/keys spill files whose
    // merge-time reader buffers alone exceed the heap — see the
    // context-conf comment above)
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "1000, 3000",
  )

  private def withSqlConfs(confs: (String, String)*)(body: => Digest): Digest = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  override def afterAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name is bit-identical under forced sorter and operator-buffer spills") {
      val expected = truth(name)
      // drain the async listener bus around each sample so spill bytes
      // attribute to THIS query, not whichever test reads the counter next
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      val diskBefore = spilledDisk.get()
      val sorterPressure = digest(spark, name)
      val bufferPressured = withSqlConfs(bufferPressure: _*)(digest(spark, name))
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      if (spilledDisk.get() > diskBefore) spilledQueries += name
      Release.all(spark)
      assert(expected == sorterPressure,
        s"$name result changed under forced sorter spills: truth=$expected spilled=$sorterPressure")
      assert(expected == bufferPressured,
        s"$name result changed under operator-buffer pressure: truth=$expected pressured=$bufferPressured")
    }
  }

  test("the pressure actually engaged (structural spill floor)") {
    org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
    val disk = spilledDisk.get()
    val mem = spilledMem.get()
    assert(disk > 1L * 1024 * 1024,
      s"only $disk disk bytes spilled across the inventory — the forced thresholds never engaged")
    assert(spilledQueries.size > 30,
      s"only ${spilledQueries.size} queries spilled to disk: expected a large share of the inventory under a 4096-row sorter bound")
    info(s"spilled: disk=${disk / 1024 / 1024} MB, in-memory=${mem / 1024 / 1024} MB, queries=${spilledQueries.size}/206")
  }
}
