package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.shuffle.graft.FaultyShuffleManager
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Empirical task-retry safety — the measured counterpart to
  * DeterminismAuditSpec's static audit. Two injected-failure axes, both
  * over completely unmodified query plans:
  *
  *  1. **Task-attempt retry.** Every task's first attempt to open an
  *     input file throws (FaultyFileSystem under the `faulty://`
  *     scheme); the scheduler retries it (`local[4,4]` ⇒
  *     spark.task.maxFailures=4). The result must be bit-identical to
  *     the clean run's, per query.
  *  2. **Map-output loss / stage resubmission.** One FetchFailed is
  *     injected per shuffle id (FaultyShuffleManager): the scheduler
  *     unregisters the produced map output, RESUBMITS the map stage,
  *     and reruns only the failed reduce partition — so the final
  *     result mixes reduce outputs computed from the original map
  *     execution with ones from the recompute. This is the scenario
  *     the static audit is a proxy for (the SPARK-23207 silent-
  *     corruption class: a nondeterministic recompute feeding some
  *     consumers but not others).
  *
  * Why it matters at 100 TB: on a 1000-executor cluster first-attempt
  * task failure and executor loss are routine (spot preemption, disk
  * faults, OOM kills); no fixed-partitioning gate can see what a
  * retried or recomputed attempt changes — only actually failing the
  * tasks can. Axis 1 also exercises the sink commit protocol: the
  * q_sink_* queries write real files through FileOutputCommitter with
  * their write tasks' first attempts dying, so a leaked partial
  * attempt-0 output would double rows and change the [[Digest]].
  *
  * The suite needs its own SparkContext (maxFailures is baked into the
  * `local[N,F]` master at construction; every other suite runs
  * `local[4]` = fail-fast), so it stops any shared context up front and
  * stops its own in afterAll — suites run sequentially in the forked
  * test JVM, so the next suite's getOrCreate simply builds the usual
  * `local[4]` session fresh.
  */
class TaskRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.builder()
      .master("local[4,4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.faulty.impl", classOf[FaultyFileSystem].getName)
      .config("spark.shuffle.manager", classOf[FaultyShuffleManager].getName)
      .getOrCreate()
  }

  override def afterAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())

  private val cleanSf  = "/root/testdata/sf0.001"
  private val faultySf = "faulty:///root/testdata/sf0.001"

  private def digest(name: String, sf: String): Digest =
    Digest.of(SparkEntry.queries(name)(spark, sf))

  // Every injected failure logs an executor ERROR with a full stack
  // trace and TaskSetManager WARNs; a failed write task also logs
  // Utils' "Aborting task" and FileFormatWriter ERRORs with traces, and
  // a failed cache put a BlockManager WARN. Those loggers go quiet for
  // the faulty legs only (a job abort is still an ERROR), so an
  // executor error anywhere else in the run still shows.
  private val injectedNoise = Seq(
    "org.apache.spark.executor.Executor" -> Level.OFF,
    "org.apache.spark.scheduler.TaskSetManager" -> Level.ERROR,
    "org.apache.spark.util.Utils" -> Level.OFF,
    "org.apache.spark.sql.execution.datasources.FileFormatWriter" -> Level.OFF,
    "org.apache.spark.storage.BlockManager" -> Level.ERROR)

  private def faultyLeg[T](body: => T): T = {
    val saved = injectedNoise.map { case (n, _) => n -> LogManager.getLogger(n).getLevel }
    injectedNoise.foreach { case (n, l) => Configurator.setLevel(n, l) }
    try body finally saved.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  // Queries whose inputs never touch the faulty dir (pure generators,
  // or generate→/tmp-scratch→read round-trips) see no open() injection
  // by construction; they still run under the faulty dir to pin that
  // the harness is a no-op for them.
  private val fileFree = Set(
    "q_gen_keys", "q_gen_domains", "q_gen_determinism",
    "q_gen_csv_text", "q_gen_parquet")

  // Queries with zero shuffles (e.g. scan + TakeOrderedAndProject) see
  // no fetch-failure injection; tracked and bounded by the final test
  // rather than asserted per query.
  private val zeroShuffle = mutable.Set[String]()

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name survives first-attempt failure and map-output loss bit-identically") {
      val clean = digest(name, cleanSf)
      val before = FaultyFileSystem.injected.get()
      // the faulty leg runs twice: each execution's first attempts fail
      // afresh, and both must equal the clean digest
      val faulty = faultyLeg(Seq.fill(2)(digest(name, faultySf)))
      val openHits = FaultyFileSystem.injected.get() - before
      val beforeFetch = FaultyShuffleManager.injected.get()
      val refetched = faultyLeg(FaultyShuffleManager.armedDuring(digest(name, cleanSf)))
      val fetchHits = FaultyShuffleManager.injected.get() - beforeFetch
      if (fetchHits == 0) zeroShuffle += name
      Release.all(spark)
      assert(faulty.forall(_ == clean),
        s"$name result changed under injected task retries: clean=$clean faulty=${faulty.mkString(", ")}")
      assert(clean == refetched,
        s"$name result changed under injected map-output loss: clean=$clean refetched=$refetched")
      if (!fileFree(name))
        assert(openHits > 0,
          s"$name: no task failure was injected — the faulty:// scheme never engaged")
    }
  }

  test("injection volume is structural, not incidental") {
    val opens = FaultyFileSystem.injected.get()
    val fetches = FaultyShuffleManager.injected.get()
    info(s"injected: opens=$opens, fetches=$fetches, zero-shuffle queries=${zeroShuffle.size}")
    assert(opens > 500,
      s"only $opens injected first-attempt open failures across the inventory")
    assert(fetches > 150,
      s"only $fetches injected fetch failures across the inventory")
    assert(zeroShuffle.size < 40,
      s"${zeroShuffle.size} queries saw no fetch injection: ${zeroShuffle.toSeq.sorted.mkString(", ")}")
  }
}
